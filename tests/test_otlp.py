"""OTLP metrics ingest (`tsdb_parquet_spark/otlp.py`): wire codec
roundtrips per metric kind, the Prometheus translation rules
(normalization, _total, job/instance mapping, delta/flag skips),
exponential-histogram downscaling, and the distributed frame."""

import gzip
import math

import pytest

from tsdb_parquet_spark.histograms import NativeHistogram
from tsdb_parquet_spark.otlp import (
    decode_export_samples,
    encode_export_request,
    otlp_frame,
)


def _one_metric(metric, resource=None):
    return encode_export_request([(resource or {}, [metric])])


def test_gauge_sum_translation_and_labels():
    body = encode_export_request([
        (
            {
                "service.name": "web",
                "service.namespace": "prod",
                "service.instance.id": "i-1",
                "k8s.pod": "p-9",
                "9lives": "x",
            },
            [
                {"name": "cpu.usage", "kind": "gauge",
                 "points": [({"core": "0"}, 1000, 0.5)]},
                {"name": "http.requests", "kind": "sum",
                 "monotonic": True,
                 "points": [({"code": "200"}, 2000, 42.0)]},
                {"name": "queue.depth", "kind": "sum",
                 "monotonic": False,
                 "points": [({}, 2000, 7.0)]},
            ],
        )
    ])
    rows = {(n, tuple(sorted(l.items())), t, v)
            for n, l, t, v in decode_export_samples(body)}
    base = (("instance", "i-1"), ("job", "prod/web"),
            ("k8s_pod", "p-9"), ("key_9lives", "x"))
    # resource attrs merge into labels (service.* triple -> job/
    # instance); label keys normalize, a leading digit gains key_
    assert ("cpu_usage", tuple(sorted(base + (("core", "0"),))),
            1000, 0.5) in rows
    # monotonic cumulative sum gains _total; non-monotonic does not
    assert ("http_requests_total",
            tuple(sorted(base + (("code", "200"),))), 2000, 42.0) in rows
    assert ("queue_depth", tuple(sorted(base)), 2000, 7.0) in rows


def test_classic_histogram_expands_cumulative():
    body = _one_metric(
        {"name": "lat", "kind": "histogram",
         "points": [({"job": "a"}, 3000, 12, 30.0,
                     [1.0, 2.0, 4.0], [2, 6, 2, 2])]}
    )
    rows = sorted(
        (n, l.get("le", ""), v) for n, l, t, v in decode_export_samples(body)
    )
    assert ("lat_bucket", "1", 2.0) in rows
    assert ("lat_bucket", "2", 8.0) in rows       # cumulative 2+6
    assert ("lat_bucket", "4", 10.0) in rows
    assert ("lat_bucket", "+Inf", 12.0) in rows   # overflow -> count
    assert ("lat_count", "", 12.0) in rows
    assert ("lat_sum", "", 30.0) in rows


def test_exponential_histogram_rides_the_native_reduction():
    h = NativeHistogram(schema=0, count=10.0, sum=30.0,
                        positive_spans=((1, 3),),
                        positive_buckets=(2.0, 6.0, 2.0))
    body = _one_metric(
        {"name": "nlat", "kind": "exponential_histogram",
         "points": [({}, 4000, h)]}
    )
    buckets = {
        l["le"]: v
        for n, l, t, v in decode_export_samples(body)
        if n == "nlat_bucket"
    }
    # schema 0 (base 2): occupied buckets (1,2](2,4](4,8] -> classic le
    assert buckets == {"2": 2.0, "4": 8.0, "8": 10.0, "+Inf": 10.0}


def test_exponential_downscale_to_schema_8():
    # scale 10 -> schema 8 is two pairwise merges: indexes 1..4 at
    # scale 10 (counts 1,2,3,4) -> ceil(i/2) twice -> index 1 gets ALL
    h = NativeHistogram(schema=10, count=10.0, sum=1.0,
                        positive_spans=((1, 4),),
                        positive_buckets=(1.0, 2.0, 3.0, 4.0))
    body = _one_metric(
        {"name": "m", "kind": "exponential_histogram",
         "points": [({}, 0, h)]}
    )
    rows = [(l.get("le"), v) for n, l, t, v in decode_export_samples(body)
            if n == "m_bucket"]
    finite = sorted((float(le), v) for le, v in rows if le != "+Inf")
    # two ceil(i/2) merges send indexes 1..4 all to index 1: a single
    # schema-8 bucket with the whole mass, upper bound 2^(2^-8)
    assert finite == [(pytest.approx(2.0 ** (2.0 ** -8)), 10.0)]
    assert dict(rows)["+Inf"] == 10.0


def test_exponential_scale_below_min_raises():
    h = NativeHistogram(schema=-5, count=1.0, sum=1.0,
                        positive_spans=((1, 1),),
                        positive_buckets=(1.0,))
    body = _one_metric(
        {"name": "m", "kind": "exponential_histogram",
         "points": [({}, 0, h)]}
    )
    with pytest.raises(ValueError, match="below -4"):
        decode_export_samples(body)


def test_summary_expands_quantiles():
    body = _one_metric(
        {"name": "sizes", "kind": "summary",
         "points": [({}, 5000, 7, 70.0, [(0.5, 9.0), (0.99, 20.0)])]}
    )
    rows = {(n, l.get("quantile", ""), v)
            for n, l, t, v in decode_export_samples(body)}
    assert ("sizes", "0.5", 9.0) in rows
    assert ("sizes", "0.99", 20.0) in rows
    assert ("sizes_count", "", 7.0) in rows
    assert ("sizes_sum", "", 70.0) in rows


def test_delta_sum_skipped_like_prometheus():
    from tsdb_parquet_spark.otlp import _CUMULATIVE  # noqa: F401

    # hand-build a DELTA sum: encode a cumulative one, then flip the
    # temporality byte is fragile — instead encode via the public
    # encoder with temporality forced by monkeypatching is overkill;
    # craft the Sum message directly
    import struct

    from tsdb_parquet_spark.otlp import (
        _enc_number_point,
        _put_key,
        _put_len_delim,
        _put_uvarint,
    )

    body_sum = bytearray()
    _put_len_delim(body_sum, 1, _enc_number_point({}, 1000, 5.0))
    _put_key(body_sum, 2, 0)
    _put_uvarint(body_sum, 1)  # AGGREGATION_TEMPORALITY_DELTA
    _put_key(body_sum, 3, 0)
    _put_uvarint(body_sum, 1)
    m = bytearray()
    _put_len_delim(m, 1, b"d")
    _put_len_delim(m, 7, bytes(body_sum))
    sm = bytearray()
    _put_len_delim(sm, 2, bytes(m))
    rm = bytearray()
    _put_len_delim(rm, 2, bytes(sm))
    req = bytearray()
    _put_len_delim(req, 1, bytes(rm))
    assert decode_export_samples(bytes(req)) == []


def test_no_recorded_value_flag_skips_point():
    import struct

    from tsdb_parquet_spark.otlp import (
        _enc_number_point,
        _put_key,
        _put_len_delim,
        _put_uvarint,
    )

    p = bytearray(_enc_number_point({}, 1000, 5.0))
    _put_key(p, 8, 0)
    _put_uvarint(p, 1)  # FLAG_NO_RECORDED_VALUE
    g = bytearray()
    _put_len_delim(g, 1, bytes(p))
    m = bytearray()
    _put_len_delim(m, 1, b"g")
    _put_len_delim(m, 5, bytes(g))
    sm = bytearray()
    _put_len_delim(sm, 2, bytes(m))
    rm = bytearray()
    _put_len_delim(rm, 2, bytes(sm))
    req = bytearray()
    _put_len_delim(req, 1, bytes(rm))
    assert decode_export_samples(bytes(req)) == []


def test_otlp_frame_distributed_decode(spark):
    """Payload bodies (one per row, optionally gzip) -> sample frame
    via one mapInArrow; missing labels land as ''."""
    bodies = []
    for day in range(3):
        body = encode_export_request([
            ({"service.name": "app"},
             [{"name": "app.events.value", "kind": "gauge",
               "points": [({"event.type": f"e{day}"},
                           86_400_000 * day + 1, float(day))]}])
        ])
        bodies.append((bytearray(gzip.compress(body)),))
    df = spark.createDataFrame(bodies, "payload binary")
    out = otlp_frame(
        df, ["__name__", "event_type", "job", "missing"],
        gzip_encoded=True,
    )
    rows = sorted(map(tuple, out.collect()))
    assert rows == [
        ("app_events_value", f"e{d}", "app", "", 86_400_000 * d + 1,
         float(d))
        for d in range(3)
    ]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan


@pytest.fixture(scope="module")
def nan_samples(spark):
    body = _one_metric(
        {"name": "up", "kind": "gauge",
         "points": [({}, 60_000, 1.0), ({}, 120_000, float("nan"))]},
        resource={"service.name": "a"},
    )
    df = spark.createDataFrame([(bytearray(body),)], "payload binary")
    return otlp_frame(df, ["__name__", "job"])


def test_otlp_frame_keeps_nan(nan_samples):
    # a NaN gauge point is a value, not a missing one: the decode must
    # not hand it to Arrow through pandas, which reads NaN as null
    rows = sorted((r["ts"], r["value"]) for r in nan_samples.collect())
    assert rows[0] == (60_000, 1.0)
    assert rows[1][0] == 120_000
    assert rows[1][1] is not None and math.isnan(rows[1][1])


def test_otlp_nan_renders_and_counts(nan_samples):
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


def test_http_otlp_end_to_end_mixed_spool(spark):
    """The OTLP push path over a real socket, sharing ONE receiver port
    with remote-write: gzip and plain OTLP bodies POST to /v1/metrics
    (200 + x-protobuf response), a remote-write body POSTs to
    /api/v1/write, everything spools into the SAME dir, and each
    protocol's ingestor drains only its own files (path globs) into its
    own store — totals exact on both."""
    import http.client
    import math
    import os
    import shutil
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    from tsdb_parquet_spark.chunks import sample_structs, with_sample_arrays
    from tsdb_parquet_spark.querier import ChunkQuerier
    from tsdb_parquet_spark.remote_write import (
        encode_write_request,
        frame_payload,
    )
    from tsdb_parquet_spark.sources.remote_write_server import (
        RemoteWriteServer,
    )
    from tsdb_parquet_spark.streaming.receiver import (
        otlp_spool_ingestor,
        remote_write_spool_ingestor,
    )

    work = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".work", "otlp_receiver_test",
    )
    spool = os.path.join(work, "spool")
    otlp_root = os.path.join(work, "otlp_store")
    rw_root = os.path.join(work, "rw_store")
    for p in (spool, otlp_root, rw_root):
        shutil.rmtree(p, ignore_errors=True)

    hour = 3_600_000
    otlp_bodies = []
    want_total = 0.0
    for day in range(3):
        points = [({"event.type": f"e{i}"},
                   1_700_000_000_000 + day * 24 * hour + i * hour,
                   float(day * 10 + i)) for i in range(4)]
        want_total += sum(p[2] for p in points)
        otlp_bodies.append(encode_export_request([
            ({"service.name": "app"},
             [{"name": "ev.val", "kind": "gauge", "points": points}]),
        ]))

    rw_body = frame_payload(encode_write_request(
        [({"__name__": "rw_metric", "job": "a"},
          [(1_700_000_000_000, 5.0), (1_700_000_000_000 + hour, 7.0)])],
        version=1,
    ))

    with RemoteWriteServer(spool) as url:
        u = urlparse(url)
        conn = http.client.HTTPConnection(u.hostname, u.port)
        for i, body in enumerate(otlp_bodies):
            headers = {"Content-Type": "application/x-protobuf"}
            if i % 2:
                body = gzip.compress(body)
                headers["Content-Encoding"] = "gzip"
            conn.request("POST", "/v1/metrics", body=body, headers=headers)
            resp = conn.getresponse()
            assert resp.status == 200
            assert resp.getheader("Content-Type") == "application/x-protobuf"
            resp.read()
        # an undecodable gzip body is rejected, not spooled
        conn.request("POST", "/v1/metrics", body=b"\x1f\x8b\xff",
                     headers={"Content-Encoding": "gzip"})
        resp = conn.getresponse()
        assert resp.status == 400
        resp.read()
        conn.request(
            "POST", "/api/v1/write", body=rw_body,
            headers={"Content-Encoding": "snappy"},
        )
        resp = conn.getresponse()
        assert resp.status == 204
        resp.read()
        conn.close()

    names = sorted(os.listdir(spool))
    assert [n for n in names if n.startswith("otlp-")] and [
        n for n in names if n.startswith("req-")
    ]

    labels = ["__name__", "event_type", "job"]
    ingestor, stream = otlp_spool_ingestor(
        spark, spool, otlp_root, labels, chunk_span_ms=24 * hour
    )
    ingestor.ingest(stream)
    q = ChunkQuerier.from_parquet(spark, ingestor.finalize())
    row = (
        q.chunks.transform(with_sample_arrays).select(
            F.explode(sample_structs()).alias("s")
        )
        .agg(F.count("*").alias("n"), F.sum("s.value").alias("total"))
        .collect()[0]
    )
    assert row["n"] == 12
    assert math.isclose(row["total"], want_total, rel_tol=1e-9)

    rw_ing, rw_stream = remote_write_spool_ingestor(
        spark, spool, rw_root, ["__name__", "job"], chunk_span_ms=24 * hour,
        path_glob="req-*.bin",
    )
    rw_ing.ingest(rw_stream)
    q2 = ChunkQuerier.from_parquet(spark, rw_ing.finalize())
    row2 = (
        q2.chunks.transform(with_sample_arrays).select(
            F.explode(sample_structs()).alias("s")
        )
        .agg(F.count("*").alias("n"), F.sum("s.value").alias("total"))
        .collect()[0]
    )
    assert row2["n"] == 2 and row2["total"] == 12.0


def test_otlp_exemplars_decode_and_store(spark, tmp_path):
    """OTLP exemplars (NumberDataPoint.exemplars) -> the engine's
    exemplar frame shape -> the exemplar store -> select_exemplars:
    trace/span ids hex-decode, filtered attributes ride along, and the
    frame is write_exemplar_store-compatible — exemplars now flow from
    all four ingest surfaces (WAL, remote-write, scrape, OTLP)."""
    from tsdb_parquet_spark.operators.selection import EQ, Matcher
    from tsdb_parquet_spark.otlp import (
        decode_export_exemplars,
        otlp_exemplar_frame,
    )
    from tsdb_parquet_spark.sources.exemplars import (
        select_exemplars,
        write_exemplar_store,
    )

    body = encode_export_request([
        ({"service.name": "app"},
         [{"name": "req.latency", "kind": "gauge",
           "points": [
               ({"path": "/x"}, 1000, 0.5,
                [(995, 0.9, {"trace_id": "0af7651916cd43dd8448eb211c80319c",
                             "span_id": "b7ad6b7169203331",
                             "user": "u1"})]),
               ({"path": "/y"}, 2000, 0.7, []),
           ]}]),
    ])
    got = decode_export_exemplars(body)
    assert len(got) == 1
    name, labels, ts, val, ex = got[0]
    assert name == "req_latency" and labels["path"] == "/x"
    assert labels["job"] == "app"
    assert (ts, val) == (995, 0.9)
    assert ex == {"trace_id": "0af7651916cd43dd8448eb211c80319c",
                  "span_id": "b7ad6b7169203331", "user": "u1"}

    payloads = spark.createDataFrame([(bytearray(body),)], "payload binary")
    frame = otlp_exemplar_frame(payloads, ["__name__", "job", "path"])
    store = str(tmp_path / "ex")
    write_exemplar_store(frame, store, ["__name__", "job", "path"])
    out = select_exemplars(
        spark, store, [Matcher("path", EQ, "/x")], mint=0, maxt=10_000
    ).collect()
    assert len(out) == 1
    assert out[0]["exemplar_labels"]["trace_id"] == (
        "0af7651916cd43dd8448eb211c80319c"
    )
    assert out[0]["value"] == 0.9 and out[0]["ts"] == 995


from hypothesis import given, settings
from hypothesis import strategies as st

_attr_keys = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz._", min_size=1, max_size=8
).filter(lambda s: s.strip("._"))
_values = st.floats(allow_nan=False, allow_infinity=False, width=64)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.dictionaries(_attr_keys, st.text(max_size=6), max_size=3),
            st.integers(0, 2**40),
            _values,
        ),
        min_size=1,
        max_size=6,
    ),
    st.booleans(),
    st.booleans(),
)
def test_number_point_roundtrip_property(points, as_sum, monotonic):
    """Any gauge/sum datapoint batch survives encode->decode with the
    documented translation applied (normalized keys, _total on
    monotonic sums, exact float64 values, ms-truncated timestamps)."""
    from tsdb_parquet_spark.otlp import _norm_label

    kind = "sum" if as_sum else "gauge"
    body = encode_export_request([
        ({}, [{"name": "m", "kind": kind, "monotonic": monotonic,
               "points": points}]),
    ])
    got = decode_export_samples(body)
    want_name = (
        "m_total" if (as_sum and monotonic) else "m"
    )
    assert len(got) == len(points)
    for (attrs, ts, v), (name, labels, g_ts, g_v) in zip(points, got):
        assert name == want_name
        assert g_ts == int(ts)
        assert g_v == v  # float64 bit-exact through fixed64 encode
        assert labels == {_norm_label(k): val for k, val in attrs.items()}


def _wrap_metric(m: bytes) -> bytes:
    sm = bytearray()
    _w_put_len_delim(sm, 2, m)
    rm = bytearray()
    _w_put_len_delim(rm, 2, bytes(sm))
    req = bytearray()
    _w_put_len_delim(req, 1, bytes(rm))
    return bytes(req)


from tsdb_parquet_spark.otlp import (  # noqa: E402
    _put_key as _w_put_key,
    _put_len_delim as _w_put_len_delim,
    _put_uvarint as _w_put_uvarint,
)


def test_split_packed_chunks_concatenate():
    """A packed repeated field split across two length-delimited chunks
    is legal protobuf — decoders must CONCATENATE (review repro: the
    second chunk used to clobber the first)."""
    import struct

    p = bytearray()
    _w_put_key(p, 3, 1)
    p += struct.pack("<Q", 1_000_000)  # ts 1ms
    _w_put_key(p, 4, 1)
    p += struct.pack("<Q", 6)  # count
    _w_put_key(p, 5, 1)
    p += struct.pack("<d", 9.0)  # sum
    # bucket_counts [1,2] then [3] as TWO packed chunks
    _w_put_len_delim(p, 6, struct.pack("<QQ", 1, 2))
    _w_put_len_delim(p, 6, struct.pack("<Q", 3))
    # explicit_bounds [0.5] then [1.0]
    _w_put_len_delim(p, 7, struct.pack("<d", 0.5))
    _w_put_len_delim(p, 7, struct.pack("<d", 1.0))
    h = bytearray()
    _w_put_len_delim(h, 1, bytes(p))
    _w_put_key(h, 2, 0)
    _w_put_uvarint(h, 2)  # CUMULATIVE
    m = bytearray()
    _w_put_len_delim(m, 1, b"lat")
    _w_put_len_delim(m, 9, bytes(h))
    rows = {(n, l.get("le", ""), v)
            for n, l, t, v in decode_export_samples(_wrap_metric(bytes(m)))}
    assert ("lat_bucket", "0.5", 1.0) in rows
    assert ("lat_bucket", "1", 3.0) in rows  # cumulative 1+2
    assert ("lat_bucket", "+Inf", 6.0) in rows


def test_no_recorded_value_skips_exp_histogram_and_summary():
    """The NO_RECORDED_VALUE staleness flag must skip EVERY point kind
    — review repro: exp-histogram and summary points used to ingest as
    real zero-count samples."""
    import struct

    # exponential histogram point, flags=1
    p = bytearray()
    _w_put_key(p, 3, 1)
    p += struct.pack("<Q", 1_000_000)
    _w_put_key(p, 4, 1)
    p += struct.pack("<Q", 0)
    _w_put_key(p, 10, 0)
    _w_put_uvarint(p, 1)  # NO_RECORDED_VALUE
    body = bytearray()
    _w_put_len_delim(body, 1, bytes(p))
    _w_put_key(body, 2, 0)
    _w_put_uvarint(body, 2)
    m = bytearray()
    _w_put_len_delim(m, 1, b"e")
    _w_put_len_delim(m, 10, bytes(body))
    assert decode_export_samples(_wrap_metric(bytes(m))) == []

    # summary point, flags=1 (field 8)
    p2 = bytearray()
    _w_put_key(p2, 3, 1)
    p2 += struct.pack("<Q", 1_000_000)
    _w_put_key(p2, 4, 1)
    p2 += struct.pack("<Q", 5)
    _w_put_key(p2, 8, 0)
    _w_put_uvarint(p2, 1)
    s = bytearray()
    _w_put_len_delim(s, 1, bytes(p2))
    m2 = bytearray()
    _w_put_len_delim(m2, 1, b"s")
    _w_put_len_delim(m2, 11, bytes(s))
    assert decode_export_samples(_wrap_metric(bytes(m2))) == []


def test_delta_exemplars_skipped_with_their_samples():
    """Exemplars on a DELTA-temporality sum must be dropped with the
    samples — review repro: they used to outlive their dropped series."""
    from tsdb_parquet_spark.otlp import (
        _enc_number_point,
        decode_export_exemplars,
    )

    p = _enc_number_point({}, 1000, 5.0,
                          [(999, 4.0, {"trace_id": "ab" * 16})])
    body = bytearray()
    _w_put_len_delim(body, 1, p)
    _w_put_key(body, 2, 0)
    _w_put_uvarint(body, 1)  # DELTA
    _w_put_key(body, 3, 0)
    _w_put_uvarint(body, 1)
    m = bytearray()
    _w_put_len_delim(m, 1, b"d")
    _w_put_len_delim(m, 7, bytes(body))
    req = _wrap_metric(bytes(m))
    assert decode_export_samples(req) == []
    assert decode_export_exemplars(req) == []


def test_receiver_rejects_undecodable_otlp_body(tmp_path):
    """OTLP/JSON or garbage POSTs get 400 and never spool — the
    poison-pill contract the remote-write path already keeps (review
    repro: they used to spool with 200 and wedge the drain)."""
    import http.client
    import os
    from urllib.parse import urlparse

    from tsdb_parquet_spark.sources.remote_write_server import (
        RemoteWriteServer,
    )

    spool = str(tmp_path / "spool")
    good = encode_export_request([
        ({}, [{"name": "m", "kind": "gauge",
               "points": [({}, 1000, 1.0)]}]),
    ])
    with RemoteWriteServer(spool) as url:
        u = urlparse(url)
        conn = http.client.HTTPConnection(u.hostname, u.port)
        for body, want in (
            (b'{"resourceMetrics": []}', 400),  # OTLP/JSON: not served
            (b"\xff\xfe\xfd", 400),             # garbage
            (good, 200),
        ):
            conn.request("POST", "/v1/metrics", body=body,
                         headers={"Content-Type": "application/x-protobuf"})
            resp = conn.getresponse()
            assert resp.status == want, body[:20]
            resp.read()
        conn.close()
    assert len([f for f in os.listdir(spool) if f.startswith("otlp-")]) == 1


def test_otlp_monotonic_sum_exemplars_follow_total_suffix():
    """Monotonic-cumulative-sum SAMPLES rename to '<name>_total'
    (Prometheus OTLP translation); the exemplar walk must apply the
    SAME suffix or query_exemplars with the selector users actually
    query (x_total) finds nothing (r11 advice)."""
    from tsdb_parquet_spark.otlp import (
        decode_export_exemplars,
        decode_export_samples,
    )

    body = encode_export_request([
        ({"service.name": "app"},
         [{"name": "requests", "kind": "sum", "monotonic": True,
           "points": [
               ({"code": "200"}, 1000, 5.0,
                [(998, 1.0, {"trace_id": "00" * 16})]),
           ]},
          {"name": "queue.size", "kind": "sum", "monotonic": False,
           "points": [
               ({}, 1000, 3.0, [(999, 2.0, {})]),
           ]}]),
    ])
    sample_names = {s[0] for s in decode_export_samples(body)}
    exemplar_names = {e[0] for e in decode_export_exemplars(body)}
    assert "requests_total" in sample_names
    assert exemplar_names == sample_names == {
        "requests_total", "queue_size"
    }


def test_otlp_double_attribute_values_render_go_style():
    """Double-typed attribute values must render with Go shortest-'g'
    formatting ('1', '1e+16'), matching the Prometheus translation and
    this module's le rendering — not Python repr ('1.0')."""
    import struct as _struct

    from tsdb_parquet_spark.otlp import _decode_any_value

    def any_double(v: float) -> bytes:
        return b"\x21" + _struct.pack("<d", v)  # field 4, wire 1

    for v, want in ((1.0, "1"), (1e16, "1e+16"), (0.25, "0.25"),
                    (-2.5, "-2.5")):
        buf = any_double(v)
        assert _decode_any_value(buf, 0, len(buf)) == want, v


def test_otlp_target_info_mode():
    """resource_attrs='target_info' reproduces the Prometheus 3.x
    resource translation: samples carry only job/instance, and each
    resource batch with leftover attributes emits one
    target_info{job,instance,<attrs>} = 1 sample at the batch's latest
    timestamp.  The default mode keeps the documented merge."""
    from tsdb_parquet_spark.otlp import decode_export_samples

    body = encode_export_request([
        ({"service.name": "app", "service.instance.id": "i1",
          "deployment.environment": "prod"},
         [{"name": "m", "kind": "gauge",
           "points": [({}, 1000, 1.0), ({}, 3000, 2.0)]}]),
        # a resource with NO leftover attrs must not emit target_info
        ({"service.name": "bare"},
         [{"name": "m", "kind": "gauge", "points": [({}, 500, 9.0)]}]),
    ])
    # default: merged labels, no target_info
    merged = decode_export_samples(body)
    assert all(n != "target_info" for n, *_ in merged)
    assert any(lbl.get("deployment_environment") == "prod"
               for _, lbl, *_ in merged)
    # target_info mode
    rows = decode_export_samples(body, resource_attrs="target_info")
    samples = [r for r in rows if r[0] == "m"]
    infos = [r for r in rows if r[0] == "target_info"]
    assert all("deployment_environment" not in lbl
               for _, lbl, *_ in samples)
    assert len(infos) == 1
    name, lbl, ts, val = infos[0]
    assert lbl == {"job": "app", "instance": "i1",
                   "deployment_environment": "prod"}
    assert (ts, val) == (3000, 1.0)  # latest batch timestamp
    import pytest

    with pytest.raises(ValueError):
        decode_export_samples(body, resource_attrs="nope")


def test_delta_convert_running_sum(spark):
    """otlp_frame(delta="convert") — the Prometheus 3.x experimental
    delta->cumulative conversion: delta sum increments accumulate
    across payload bodies into a per-series running sum (monotonic ->
    `_total`), increments at the SAME timestamp pre-aggregate
    deterministically, and cumulative/gauge series pass through
    untouched."""
    bodies = []
    # two bodies, increments interleaved across them per shard
    for inc_by_shard_ts in (
        {("s1", 1000): 2.0, ("s2", 1000): 5.0},
        {("s1", 2000): 3.0, ("s2", 3000): 1.0},
    ):
        points = [
            ({"shard": s}, ts, v)
            for (s, ts), v in sorted(inc_by_shard_ts.items())
        ]
        bodies.append((bytearray(encode_export_request([
            ({"service.name": "app"},
             [{"name": "req.count", "kind": "sum", "monotonic": True,
               "temporality": "delta", "points": points},
              {"name": "gauge.v", "kind": "gauge",
               "points": [({"shard": "s1"}, points[0][1], 9.0)]}]),
        ])),))
    # a third body with a duplicate-(series, ts) increment
    bodies.append((bytearray(encode_export_request([
        ({"service.name": "app"},
         [{"name": "req.count", "kind": "sum", "monotonic": True,
           "temporality": "delta",
           "points": [({"shard": "s1"}, 2000, 4.0)]}]),
    ])),))
    df = spark.createDataFrame(bodies, "payload binary")
    out = otlp_frame(
        df, ["__name__", "shard", "job"], delta="convert"
    )
    rows = sorted(map(tuple, out.collect()))
    assert rows == [  # columns: (__name__, job, shard, ts, value)
        ("gauge_v", "app", "s1", 1000, 9.0),  # body 1 gauge point
        ("gauge_v", "app", "s1", 2000, 9.0),  # body 2 gauge point
        # s1: 2 @1000; 2+(3+4) @2000 (same-ts increments pre-agg)
        ("req_count_total", "app", "s1", 1000, 2.0),
        ("req_count_total", "app", "s1", 2000, 9.0),
        # s2: 5 @1000; 6 @3000
        ("req_count_total", "app", "s2", 1000, 5.0),
        ("req_count_total", "app", "s2", 3000, 6.0),
    ]
    # default mode still skips deltas entirely
    skipped = otlp_frame(df, ["__name__", "shard", "job"])
    assert {r["__name__"] for r in skipped.collect()} == {"gauge_v"}
    # pin_decoded (bounded-batch single-decode optimization) must be
    # result-invariant: the checkpoint only cuts lineage between the
    # decode and the delta split
    pinned = otlp_frame(
        df, ["__name__", "shard", "job"], delta="convert",
        pin_decoded=True,
    )
    assert sorted(map(tuple, pinned.collect())) == rows


def test_delta_convert_oracle_twin(spark, duckdb_con=None):
    """The conversion's SQL twin: DuckDB recomputes the running sum
    from the raw increments and must match the frame bit-for-bit."""
    import duckdb

    incs = [
        ("s1", 1000, 2.0), ("s2", 1000, 5.0), ("s1", 2000, 3.0),
        ("s2", 3000, 1.0), ("s1", 2000, 4.0), ("s1", 5000, 0.5),
    ]
    bodies = [
        (bytearray(encode_export_request([
            ({"service.name": "app"},
             [{"name": "c", "kind": "sum", "monotonic": True,
               "temporality": "delta",
               "points": [({"shard": s}, ts, v)]}]),
        ])),)
        for s, ts, v in incs
    ]
    df = spark.createDataFrame(bodies, "payload binary")
    out = otlp_frame(df, ["__name__", "shard"], delta="convert")
    got = sorted(
        (r["shard"], r["ts"], r["value"]) for r in out.collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE incs(shard VARCHAR, ts BIGINT, v DOUBLE)"
    )
    con.executemany("INSERT INTO incs VALUES (?, ?, ?)", incs)
    want = con.execute("""
        WITH agg AS (
          SELECT shard, ts, sum(v) AS v FROM incs GROUP BY 1, 2
        )
        SELECT shard, ts,
               sum(v) OVER (PARTITION BY shard ORDER BY ts) AS value
        FROM agg ORDER BY shard, ts
    """).fetchall()
    assert got == [tuple(w) for w in want]

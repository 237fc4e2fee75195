"""Prometheus HTTP query API (`tsdb_parquet_spark.api`).

Unit-level: the Go-format value/timestamp encoders (goldens from
``strconv.FormatFloat(v, 'f', -1, 64)`` / ``model.Time``).  End-to-end:
every endpoint over a real loopback socket against a small in-memory
engine, checked against direct-engine evaluation — the API layer must
add exactly zero semantics."""

import json
import urllib.error
import urllib.parse
import urllib.request

import pytest
from pyspark.sql import functions as F

from tsdb_parquet_spark.api import (
    PromApiServer,
    api_get_json,
    api_query_range_rows,
    format_sample_value,
    _parse_step_ms,
    _parse_time_ms,
    _ts_json,
)
from tsdb_parquet_spark.operators.selection import Matcher
from tsdb_parquet_spark.plans.promql import PromQLEngine
from tsdb_parquet_spark.scrape import parse_exposition


@pytest.mark.parametrize(
    "value,want",
    [
        (1.0, "1"),
        (0.0, "0"),
        (-0.0, "-0"),
        (1.5, "1.5"),
        (0.1, "0.1"),
        (1e16, "10000000000000000"),
        (1e-7, "0.0000001"),
        (2.5e-10, "0.00000000025"),
        (-42.0, "-42"),
        (float("nan"), "NaN"),
        (float("inf"), "+Inf"),
        (float("-inf"), "-Inf"),
    ],
)
def test_format_sample_value_go_f(value, want):
    got = format_sample_value(value)
    assert got == want
    if want not in ("NaN", "+Inf", "-Inf"):
        # shortest ROUND-TRIP digits: reparse is bit-exact
        assert float(got) == value


def test_time_encoding_roundtrip():
    assert _ts_json(1435781430781) == 1435781430.781
    assert round(_ts_json(1435781430781) * 1000) == 1435781430781
    assert _parse_time_ms("1435781430.781") == 1435781430781
    assert _parse_time_ms("2015-07-01T20:10:30.781Z") == 1435781430781
    assert _parse_step_ms("15") == 15_000
    assert _parse_step_ms("1m") == 60_000
    with pytest.raises(ValueError):
        _parse_step_ms("0")


@pytest.fixture(scope="module")
def engine(spark):
    rows = [
        ("app_events", "click", "1", 1_000_000, 1.0),
        ("app_events", "click", "1", 1_060_000, 3.0),
        ("app_events", "view", "2", 1_000_000, 2.0),
        ("app_events", "view", "2", 1_120_000, 5.0),
        ("other_metric", "x", "", 1_000_000, 9.0),
    ]
    df = spark.createDataFrame(
        rows,
        "`__name__` STRING, event_type STRING, shard STRING, "
        "ts LONG, value DOUBLE",
    )
    return PromQLEngine(df)


@pytest.fixture(scope="module")
def api(engine):
    server = PromApiServer(
        engine, metadata=[("app_events", "untyped", "demo")]
    )
    url = server.start()
    yield url
    server.stop()


def test_query_range_matches_engine(api, engine):
    via_api = api_query_range_rows(
        api, "sum by (event_type) (app_events)", 1_000_000, 1_120_000, 60_000
    )
    direct = {
        (r["t"], r["event_type"]): r["value"]
        for r in engine.query_range(
            "sum by (event_type) (app_events)", 1_000_000, 1_120_000, 60_000
        )
        .collect()
        for r in [r.asDict()]
    }
    assert len(via_api) == len(direct)
    for t, labels, value in via_api:
        assert direct[(t, labels["event_type"])] == value


def test_instant_query_vector(api):
    p = api_get_json(
        api, "/api/v1/query", {"query": "sum(app_events)", "time": 1120}
    )
    assert p["status"] == "success"
    assert p["data"]["resultType"] == "vector"
    assert p["data"]["result"] == [{"metric": {}, "value": [1120.0, "8"]}]


def test_instant_query_scalar(api):
    p = api_get_json(api, "/api/v1/query", {"query": "40 + 2", "time": 7})
    assert p["data"] == {"resultType": "scalar", "result": [7.0, "42"]}


def test_series_endpoint(api):
    p = api_get_json(
        api,
        "/api/v1/series",
        {"match[]": ['app_events{event_type="click"}', "other_metric"]},
    )
    # absent ("") labels are omitted from the labelset, Prometheus-style
    assert p["data"] == [
        {"__name__": "app_events", "event_type": "click", "shard": "1"},
        {"__name__": "other_metric", "event_type": "x"},
    ]


def test_series_time_bounds(api):
    p = api_get_json(
        api,
        "/api/v1/series",
        {"match[]": ["app_events"], "start": 1100, "end": 1200},
    )
    assert p["data"] == [
        {"__name__": "app_events", "event_type": "view", "shard": "2"}
    ]


def test_labels_and_values(api):
    assert api_get_json(api, "/api/v1/labels", {})["data"] == [
        "__name__",
        "event_type",
        "shard",
    ]
    p = api_get_json(
        api, "/api/v1/label/event_type/values", {"match[]": ["app_events"]}
    )
    assert p["data"] == ["click", "view"]
    # unknown label -> empty, not an error
    assert api_get_json(api, "/api/v1/label/nope/values", {})["data"] == []


def test_federate_roundtrip(api):
    with urllib.request.urlopen(
        f"{api}/federate?match[]=app_events&time=1120"
    ) as resp:
        assert resp.headers["Content-Type"].startswith("text/plain")
        text = resp.read().decode()
    assert "# TYPE app_events untyped" in text
    parsed = parse_exposition(text)
    # latest sample per series, ORIGINAL timestamps
    assert sorted(
        (lbl["event_type"], v, ts) for lbl, v, ts in parsed
    ) == [("click", 3.0, 1_060_000), ("view", 5.0, 1_120_000)]


def test_statically_empty_selector(api):
    p = api_get_json(
        api, "/api/v1/series", {"match[]": ['app_events{nolabel="x"}']}
    )
    assert p["data"] == []


@pytest.mark.parametrize(
    "selector,matches_all",
    [
        # absent label == "" (Prometheus model/labels): on a store that
        # never materialized the column, the matcher resolves statically
        ('app_events{nolabel=""}', True),
        ('app_events{nolabel="x"}', False),
        ('app_events{nolabel!=""}', False),
        ('app_events{nolabel!="x"}', True),
        ('app_events{nolabel=~".*"}', True),
        ('app_events{nolabel=~".+"}', False),
        ('app_events{nolabel!~".*"}', False),
        ('app_events{nolabel!~".+"}', True),
    ],
)
def test_absent_label_matcher_semantics(api, engine, selector, matches_all):
    """Every reader of the engine gives the same keep-all or keep-none
    answer: the range query, series, labels, label values, federate and
    both remote-read response types."""
    from tsdb_parquet_spark.plans.promql import parse_promql
    from tsdb_parquet_spark.remote_read import (
        decode_read_response,
        decode_streamed_read_body,
        encode_read_request,
        serve_read_request,
        serve_read_request_streamed,
    )
    from tsdb_parquet_spark.remote_write import frame_payload, unframe_payload

    match = {"match[]": [selector]}
    node = parse_promql(selector)
    read_body = frame_payload(encode_read_request([(
        0, 2_000_000, [*node.matchers, Matcher("__name__", "=", node.metric)]
    )]))
    with urllib.request.urlopen(
        f"{api}/federate?" + urllib.parse.urlencode(
            {**match, "time": 1120}, doseq=True
        )
    ) as resp:
        federated = parse_exposition(resp.read().decode())
    [read] = decode_read_response(
        unframe_payload(serve_read_request(engine, read_body))
    )
    [streamed] = decode_streamed_read_body(
        b"".join(serve_read_request_streamed(engine, read_body)), 1
    )
    rows = api_query_range_rows(api, selector, 1_000_000, 1_120_000, 60_000)
    got = {
        "query_range": len({tuple(sorted(lbl.items())) for _, lbl, _ in rows}),
        "series": len(api_get_json(api, "/api/v1/series", match)["data"]),
        "labels": api_get_json(api, "/api/v1/labels", match)["data"],
        "label_values": api_get_json(
            api, "/api/v1/label/event_type/values", match
        )["data"],
        "federate": len(federated),
        "remote_read": len(read),
        "remote_read_streamed": len(streamed),
    }
    # two app_events series in the store
    want = {
        "query_range": 2,
        "series": 2,
        "labels": ["__name__", "event_type", "shard"],
        "label_values": ["click", "view"],
        "federate": 2,
        "remote_read": 2,
        "remote_read_streamed": 2,
    }
    if not matches_all:
        want = {k: [] if isinstance(v, list) else 0 for k, v in want.items()}
    assert got == want, selector


def test_error_envelopes(api):
    with pytest.raises(urllib.error.HTTPError) as exc:
        api_get_json(api, "/api/v1/query_range", {"query": "app_events"})
    assert exc.value.code == 400
    body = json.loads(exc.value.read().decode())
    assert body["status"] == "error" and body["errorType"] == "bad_data"
    # aggregations and the offset/@ modifiers are not valid match[]
    # selectors (Prometheus ParseMetricSelector)
    for bad in (
        "sum(app_events)",
        "app_events offset 1h",
        "app_events @ 0",
    ):
        for path in ("/api/v1/series", "/api/v1/labels", "/federate"):
            params = {"match[]": [bad], "time": 1120}
            with pytest.raises(urllib.error.HTTPError) as exc:
                urllib.request.urlopen(
                    f"{api}{path}?"
                    + urllib.parse.urlencode(params, doseq=True)
                )
            assert exc.value.code == 400, (path, bad)
            body = json.loads(exc.value.read().decode())
            assert body["errorType"] == "bad_data", (path, bad)
    with pytest.raises(urllib.error.HTTPError) as exc:
        api_get_json(api, "/api/v1/nope", {})
    assert exc.value.code == 404


def test_internal_error_envelope(engine):
    """A non-ValueError failure (here: OSError from a missing exemplar
    store) must come back as a 500 {status:error, errorType:internal}
    envelope, not a dropped connection."""
    with PromApiServer(
        engine, exemplar_store="/nonexistent/exemplar/store"
    ) as url:
        with pytest.raises(urllib.error.HTTPError) as exc:
            api_get_json(
                url,
                "/api/v1/query_exemplars",
                {"query": "app_events", "start": "0", "end": "2000"},
            )
        assert exc.value.code == 500
        body = json.loads(exc.value.read().decode())
        assert body["status"] == "error"
        assert body["errorType"] == "internal"


def test_post_form_params(api):
    data = urllib.parse.urlencode(
        {"query": "sum(app_events)", "time": "1120"}
    ).encode()
    req = urllib.request.Request(
        f"{api}/api/v1/query",
        data=data,
        headers={"Content-Type": "application/x-www-form-urlencoded"},
    )
    with urllib.request.urlopen(req) as resp:
        p = json.loads(resp.read().decode())
    assert p["data"]["result"] == [{"metric": {}, "value": [1120.0, "8"]}]


def test_metadata_endpoint(api):
    p = api_get_json(api, "/api/v1/metadata", {})
    assert p["data"] == {
        "app_events": [{"type": "untyped", "help": "demo", "unit": ""}]
    }
    assert api_get_json(
        api, "/api/v1/metadata", {"metric": "nope"}
    )["data"] == {}
    # 4-tuples (WAL metadata records carry a unit) surface it
    from tsdb_parquet_spark.api import metadata_result

    assert metadata_result(
        [("m", "counter", "h", "seconds"), ("n", "gauge", "g")]
    ) == {
        "m": [{"type": "counter", "help": "h", "unit": "seconds"}],
        "n": [{"type": "gauge", "help": "g", "unit": ""}],
    }


def test_status_tsdb(api):
    p = api_get_json(api, "/api/v1/status/tsdb", {})
    d = p["data"]
    assert d["headStats"]["numSeries"] == 3
    assert d["headStats"]["minTime"] == 1_000_000
    assert d["headStats"]["maxTime"] == 1_120_000
    # __name__=app_events (2 series) ranks above other_metric (1)
    assert d["seriesCountByMetricName"][0] == {
        "name": "app_events",
        "value": 2,
    }
    by_label = {e["name"]: e["value"] for e in d["labelValueCountByLabelName"]}
    assert by_label["__name__"] == 2  # app_events, other_metric
    assert by_label["event_type"] == 3  # click, view, x
    assert by_label["shard"] == 2  # "1", "2" ("" is absent)
    pairs = {e["name"]: e["value"] for e in d["seriesCountByLabelValuePair"]}
    assert pairs["__name__=app_events"] == 2
    # numLabelPairs counts distinct non-empty (label, value) pairs
    assert d["headStats"]["numLabelPairs"] == 7


def test_query_exemplars_endpoint(spark, engine, tmp_path):
    from pyspark.sql import Row

    from tsdb_parquet_spark.sources.exemplars import write_exemplar_store

    rows = [
        Row(
            __name__="app_events",
            event_type=("click" if i % 2 else "view"),
            ts=i * 86_400_000,
            value=float(i),
            exemplar_labels={"trace_id": f"t{i}"},
        )
        for i in range(4)
    ]
    store = str(tmp_path / "ex")
    write_exemplar_store(
        spark.createDataFrame(rows), store, ["__name__", "event_type"]
    )
    with PromApiServer(engine, exemplar_store=store) as url:
        p = api_get_json(
            url,
            "/api/v1/query_exemplars",
            {
                "query": 'app_events{event_type="click"}',
                "start": 0,
                "end": 3 * 86_400,
            },
        )
        assert p["data"] == [
            {
                "seriesLabels": {
                    "__name__": "app_events",
                    "event_type": "click",
                },
                "exemplars": [
                    {
                        "labels": {"trace_id": "t1"},
                        "value": "1",
                        "timestamp": 86_400.0,
                    },
                    {
                        "labels": {"trace_id": "t3"},
                        "value": "3",
                        "timestamp": 3 * 86_400.0,
                    },
                ],
            }
        ]
        # a matcher on a label no series carries: {nolabel="x"} keeps
        # nothing, {nolabel=""} is a no-op
        window = {"start": 0, "end": 3 * 86_400}
        unfiltered = api_get_json(
            url, "/api/v1/query_exemplars", {"query": "app_events", **window}
        )["data"]
        assert len(unfiltered) == 2
        for query, want in (
            ('app_events{nolabel="x"}', []),
            ('app_events{nolabel=""}', unfiltered),
        ):
            p = api_get_json(
                url, "/api/v1/query_exemplars", {"query": query, **window}
            )
            assert p["data"] == want, query
        # aggregations and the offset/@ modifiers rejected
        for query in ("sum(app_events)", "app_events offset 1h",
                      "app_events @ 0"):
            with pytest.raises(urllib.error.HTTPError) as exc:
                api_get_json(
                    url,
                    "/api/v1/query_exemplars",
                    {"query": query, "start": 0, "end": 1},
                )
            assert exc.value.code == 400, query


def test_query_exemplars_absent_without_store(api):
    with pytest.raises(urllib.error.HTTPError) as exc:
        api_get_json(
            api,
            "/api/v1/query_exemplars",
            {"query": "app_events", "start": 0, "end": 1},
        )
    assert exc.value.code == 404


def test_nan_value_survives_json(spark):
    df = spark.createDataFrame(
        [("m", 1_000, float("nan"))], "`__name__` STRING, ts LONG, value DOUBLE"
    )
    with PromApiServer(PromQLEngine(df)) as url:
        p = api_get_json(url, "/api/v1/query", {"query": "m", "time": 1})
    assert p["data"]["result"][0]["value"][1] == "NaN"


@pytest.mark.parametrize(
    "query,order",
    [
        ("sort(m)", ["b", "c", "a", "d"]),
        ("sort_desc(m)", ["a", "c", "b", "d"]),
        ('sort_by_label(m, "inst")', ["a", "b", "c", "d"]),
        ('sort_by_label_desc(m, "inst")', ["d", "c", "b", "a"]),
        ("m", ["d", "c", "a", "b"]),
    ],
)
def test_instant_sort_order(spark, query, order):
    # label-set order (az sorts first) is d, c, a, b: unlike every sort*
    # order, so each case fails if the renderer ignores the sort.  NaN
    # sorts last under sort and sort_desc alike, as in Prometheus
    rows = [
        ("m", "a", "y", 60_000, 3.0),
        ("m", "b", "z", 60_000, 1.0),
        ("m", "c", "x", 60_000, 2.0),
        ("m", "d", "w", 60_000, float("nan")),
    ]
    df = spark.createDataFrame(
        rows, "`__name__` STRING, inst STRING, az STRING, ts LONG, value DOUBLE"
    )
    with PromApiServer(PromQLEngine(df)) as url:
        p = api_get_json(url, "/api/v1/query", {"query": query, "time": 90})
    assert p["status"] == "success"
    assert [e["metric"]["inst"] for e in p["data"]["result"]] == order


def test_buildinfo_and_lifecycle_probes(api):
    p = api_get_json(api, "/api/v1/status/buildinfo", {})
    assert p["status"] == "success"
    assert p["data"]["revision"] == "tsdb-parquet-spark"
    for path, word in (("/-/healthy", "Healthy"), ("/-/ready", "Ready")):
        with urllib.request.urlopen(f"{api}{path}") as resp:
            assert resp.status == 200
            assert resp.read().decode() == f"{word}.\n"


def test_limit_param(api):
    p = api_get_json(api, "/api/v1/labels", {"limit": 2})
    assert p["data"] == ["__name__", "event_type"]
    p = api_get_json(
        api,
        "/api/v1/label/event_type/values",
        {"match[]": ["app_events"], "limit": 1},
    )
    assert p["data"] == ["click"]
    p = api_get_json(
        api, "/api/v1/series", {"match[]": ["app_events"], "limit": 1}
    )
    assert len(p["data"]) == 1
    # limit=0 means disabled, Prometheus semantics
    p = api_get_json(api, "/api/v1/labels", {"limit": 0})
    assert len(p["data"]) == 3


def test_federate_external_labels(engine):
    """Federation stamps external_labels onto exported series that do
    not already carry the label; a series' own label always wins."""
    from tsdb_parquet_spark.scrape import parse_exposition

    with PromApiServer(
        engine, external_labels={"cluster": "eu-1", "event_type": "X"}
    ) as url:
        req = urllib.request.Request(
            f"{url}/federate?"
            + urllib.parse.urlencode(
                {"match[]": "app_events", "time": 1120}, doseq=True
            )
        )
        with urllib.request.urlopen(req) as resp:
            text = resp.read().decode()
    parsed = parse_exposition(text)
    assert parsed
    for labels, _v, _ts in parsed:
        assert labels["cluster"] == "eu-1"  # stamped everywhere
        assert labels["event_type"] in ("click", "view")  # own label wins


def test_rules_endpoint_config_and_state(engine):
    """/api/v1/rules: config-only without `time`; with `time` the
    alerting state machine evaluates live (firing > pending rule
    state, per-series alerts with ActiveAt/value)."""
    from tsdb_parquet_spark.rules import (
        AlertingRule,
        RecordingRule,
        RuleGroup,
    )

    groups = [RuleGroup(
        "g",
        (
            RecordingRule("evt:sum", "sum by (event_type) (app_events)",
                          {"team": "infra"}),
            AlertingRule("Busy", "app_events > 2", for_ms=0,
                         labels={"severity": "page"}),
        ),
        interval_ms=60_000,
    )]
    with PromApiServer(engine, rule_groups=groups) as url:
        cfg = api_get_json(url, "/api/v1/rules", {})
        [g] = cfg["data"]["groups"]
        assert g["name"] == "g" and g["interval"] == 60.0
        rec, alert = g["rules"]
        assert rec["type"] == "recording" and rec["name"] == "evt:sum"
        assert rec["labels"] == {"team": "infra"}
        assert alert["type"] == "alerting"
        assert alert["state"] == "inactive" and alert["alerts"] == []
        # type filter
        only_alerts = api_get_json(
            url, "/api/v1/rules", {"type": "alert"}
        )["data"]["groups"][0]["rules"]
        assert [r["type"] for r in only_alerts] == ["alerting"]
        # live state at t=1120s: click=3 and view=5 exceed 2 -> firing
        live = api_get_json(url, "/api/v1/rules", {"time": 1120})
        [lg] = live["data"]["groups"]
        lalert = [r for r in lg["rules"] if r["type"] == "alerting"][0]
        assert lalert["state"] == "firing"
        states = {
            (a["labels"]["event_type"], a["state"], a["value"])
            for a in lalert["alerts"]
        }
        assert states == {("click", "firing", "3"),
                          ("view", "firing", "5")}
        for a in lalert["alerts"]:
            assert a["labels"]["alertname"] == "Busy"
            assert a["labels"]["severity"] == "page"
            assert a["activeAt"].endswith("Z")


def test_concurrent_queries_match_serial(engine):
    """/api/v1/query_range, /api/v1/query and live /api/v1/rules run
    side by side on one engine: 6 threads sending a mixed request set
    get exactly the serial answers, with and without ``shared_scan``.
    The set holds the CSE shape (a subtree referenced twice, pinned
    once per call) and a subquery grid beside the same aggregation on
    the outer grid."""
    from concurrent.futures import ThreadPoolExecutor

    from tsdb_parquet_spark.rules import AlertingRule, RuleGroup

    groups = [RuleGroup(
        "g",
        (AlertingRule("Busy", "app_events > 2", for_ms=0),),
        interval_ms=60_000,
    )]
    sel = "sum by (event_type) (count_over_time(app_events[2m]))"
    grid = {"start": 1000, "end": 1240, "step": 60}
    requests = [
        ("/api/v1/query_range",
         {"query": f"({sel} and on(event_type) {sel} > 1) or {sel}",
          **grid}),
        ("/api/v1/query_range",
         {"query": "max_over_time(sum(app_events)[2m:1m])"
                   " + sum(app_events)", **grid}),
        ("/api/v1/query_range", {"query": "app_events * 2", **grid}),
        ("/api/v1/query",
         {"query": f"{sel} unless on(event_type) {sel} > 1",
          "time": 1120}),
        ("/api/v1/query", {"query": "sort_desc(app_events)", "time": 1120}),
        ("/api/v1/rules", {"time": 1120}),
    ]
    with PromApiServer(engine, rule_groups=groups) as url:
        serial = [api_get_json(url, *r) for r in requests]
    for body in serial:
        assert body["status"] == "success"
        assert body["data"].get("result") or body["data"].get("groups")
    for shared_scan in (False, True):
        eng = PromQLEngine(engine.samples, shared_scan=shared_scan)
        with PromApiServer(eng, rule_groups=groups) as url:
            def client(k):
                # each thread sends two requests from its own offset, so
                # all six shapes are in flight at once
                order = [(k + i) % len(requests) for i in range(2)]
                return [(i, api_get_json(url, *requests[i])) for i in order]

            with ThreadPoolExecutor(6) as pool:
                answers = [a for got in pool.map(client, range(6)) for a in got]
        assert len(answers) == 6 * 2
        for i, body in answers:
            assert body == serial[i], (shared_scan, requests[i])


def test_admin_tsdb_api(spark, tmp_path):
    """/api/v1/admin/tsdb/*: delete_series runs the surgical store
    rewrite and the serving engine rebuilds so the deletion is
    immediately queryable; snapshot names the current manifest;
    clean_tombstones no-ops; disabled servers answer 403 and GET 405,
    like a Prometheus without --web.enable-admin-api."""
    from pyspark.sql import Row

    from tsdb_parquet_spark.chunks import samples_to_chunks
    from tsdb_parquet_spark.querier import ChunkQuerier
    from tsdb_parquet_spark.schema import sort_columns
    from tsdb_parquet_spark.sources.writer import (
        SortedParquetWriter,
        WriterOptions,
    )

    day = 86_400_000
    labels = ["__name__", "job"]
    root = str(tmp_path / "admin_store")
    rows = [
        Row(__name__="m", job=j, ts=d * day + h * 6 * 3_600_000,
            value=1.0)
        for j in ("a", "b") for d in range(2) for h in range(4)
    ]
    w = SortedParquetWriter(
        spark, root, WriterOptions(sort_columns=sort_columns(labels))
    )
    w.write(samples_to_chunks(
        spark.createDataFrame(rows), labels, chunk_span_ms=day
    ))

    def factory():
        return ChunkQuerier.from_store(spark, root).select_samples(
            labels=labels
        )

    def post(url, path, params):
        req = urllib.request.Request(
            f"{url}{path}?" + urllib.parse.urlencode(params, doseq=True),
            method="POST", data=b"",
        )
        return urllib.request.urlopen(req)

    engine = PromQLEngine(factory())
    with PromApiServer(
        engine, admin_store=root, admin_label_names=labels,
        samples_factory=factory,
    ) as url:
        before = api_get_json(
            url, "/api/v1/query",
            {"query": "count(m)", "time": day // 1000},
        )["data"]["result"][0]["value"][1]
        assert before == "2"  # both jobs alive at t=day
        # snapshot names the current manifest version
        snap = json.loads(
            post(url, "/api/v1/admin/tsdb/snapshot", {}).read()
        )
        assert snap["data"]["name"].isdigit()
        # clean_tombstones: 204 no-op
        assert post(
            url, "/api/v1/admin/tsdb/clean_tombstones", {}
        ).status == 204
        # GET is rejected
        with pytest.raises(urllib.error.HTTPError) as exc:
            api_get_json(url, "/api/v1/admin/tsdb/delete_series",
                         {"match[]": ["m"]})
        assert exc.value.code == 405
        # delete job=a entirely
        resp = post(
            url, "/api/v1/admin/tsdb/delete_series",
            {"match[]": ['m{job="a"}']},
        )
        assert resp.status == 204
        assert int(resp.headers["X-Deleted-Samples"]) == 8
        # immediately visible through the rebuilt engine
        after = api_get_json(
            url, "/api/v1/query",
            {"query": "count(m)", "time": day // 1000},
        )["data"]["result"][0]["value"][1]
        assert after == "1"
        # missing match[], or a selector with offset/@ -> bad_data,
        # and nothing is deleted
        for params in ({}, {"match[]": ["m offset 1h"]},
                       {"match[]": ["m @ 0"]}):
            with pytest.raises(urllib.error.HTTPError) as exc:
                post(url, "/api/v1/admin/tsdb/delete_series", params)
            assert exc.value.code == 400, params
            body = json.loads(exc.value.read().decode())
            assert body["errorType"] == "bad_data", params
        assert api_get_json(
            url, "/api/v1/query",
            {"query": "count(m)", "time": day // 1000},
        )["data"]["result"][0]["value"][1] == "1"
    # admin disabled -> 403 envelope
    with PromApiServer(PromQLEngine(factory())) as url:
        with pytest.raises(urllib.error.HTTPError) as exc:
            post(url, "/api/v1/admin/tsdb/delete_series",
                 {"match[]": ["m"]})
        assert exc.value.code == 403
        body = json.loads(exc.value.read().decode())
        assert body["errorType"] == "unavailable"


def test_status_flags_and_runtimeinfo(api):
    flags = api_get_json(api, "/api/v1/status/flags", {})["data"]
    assert flags["web.enable-admin-api"] == "false"
    assert flags["query.lookback-delta"].endswith("s")
    rt = api_get_json(api, "/api/v1/status/runtimeinfo", {})["data"]
    assert rt["startTime"].endswith("Z")
    assert rt["reloadConfigSuccess"] is True
    assert rt["GOMAXPROCS"] >= 1


def test_streamed_read_midstream_failure_closes_connection(
    engine, monkeypatch
):
    """A Spark failure while draining the streamed /api/v1/read body
    (headers already sent) must NOT write a 500 JSON envelope into the
    chunked-frame stream — and because the failure usually lands on a
    whole-frame boundary (Spark work happens between yields), a bare
    close would parse as a complete-but-shorter response.  The server
    writes a poison trailer (nonzero uvarint length, no body) so every
    client rejects the stream as truncated."""
    import http.client
    import urllib.parse

    from tsdb_parquet_spark.remote_read import (
        STREAMED_XOR_CHUNKS,
        decode_streamed_read_body,
        encode_read_request,
        serve_read_request_streamed,
    )
    from tsdb_parquet_spark.remote_write import frame_payload

    real = serve_read_request_streamed

    def exploding(eng, body, **kw):
        frames = real(eng, body, **kw)
        yield next(frames)  # one good frame, then a mid-drain failure
        raise RuntimeError("executor lost")

    # patch the module-level symbol the handler imports at request time
    import tsdb_parquet_spark.remote_read as rr

    monkeypatch.setattr(rr, "serve_read_request_streamed", exploding)

    server = PromApiServer(engine)
    url = server.start()
    try:
        from tsdb_parquet_spark.operators.selection import Matcher

        body = frame_payload(
            encode_read_request(
                [(0, 2_000_000, [Matcher("__name__", "=", "app_events")])],
                accepted=[STREAMED_XOR_CHUNKS],
            )
        )
        parsed = urllib.parse.urlparse(url)
        conn = http.client.HTTPConnection(
            parsed.hostname, parsed.port, timeout=30
        )
        conn.request(
            "POST",
            "/api/v1/read",
            body=body,
            headers={
                "Content-Type": "application/x-protobuf",
                "Content-Encoding": "snappy",
            },
        )
        resp = conn.getresponse()
        assert resp.status == 200  # headers were already committed
        raw = resp.read()  # truncated stream, connection closed
        # no JSON error envelope leaked into the frame body
        assert b'"errorType"' not in raw and b"HTTP/1.1 500" not in raw
        # the poison trailer guarantees the client CANNOT mistake the
        # truncation for a complete response — frame parse must fail
        with pytest.raises(ValueError, match="truncated chunked frame"):
            decode_streamed_read_body(raw, 1)
    finally:
        conn.close()
        server.stop()

"""PromQL-subset tests.  The golden case mirrors the reference's only
end-to-end PromQL test (`prometheus/promql_test.go:14-59`): 3 constant
series, `sum(http_requests_total)` over [0s, 300s] step 60s must yield one
group with value 3.0 at each of the 6 steps (the reference's stub iterator
emits 1.0 every 30s — `prometheus/chunks_iterator.go:12-24`)."""

import copy
import math
from collections import Counter

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tsdb_parquet_spark.plans.promql import (
    DEFAULT_LOOKBACK_MS,
    PromQLEngine,
    _Evaluation,
    parse_duration_ms,
    parse_promql,
    sort_vector,
)


def _stub_samples(spark):
    """3 series of http_requests_total, value 1.0 every 30s over [0, 300s],
    plus one decoy metric that must be filtered out."""
    rows = []
    series = [("api-server", "0"), ("api-server", "1"), ("kubelet", "0")]
    for job, inst in series:
        for ts in range(0, 300_001, 30_000):
            rows.append(("http_requests_total", job, inst, ts, 1.0))
    rows.append(("other_metric", "api-server", "0", 150_000, 99.0))
    return spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, instance STRING, ts LONG, value DOUBLE"
    )


def test_parse_selector():
    e = parse_promql('http_requests_total{job="api-server", instance!="2"}')
    assert e.metric == "http_requests_total"
    assert [(m.name, m.op, m.value) for m in e.matchers] == [
        ("job", "=", "api-server"),
        ("instance", "!=", "2"),
    ]
    assert e.func is None and e.agg is None


def test_parse_agg_func():
    e = parse_promql('sum by (job) (rate(http_requests_total{job=~"api.*"}[5m]))')
    assert e.agg == "sum" and e.by == ["job"]
    assert e.func == "rate" and e.range_ms == 300_000
    assert e.matchers[0].op == "=~"


def test_parse_duration():
    assert parse_duration_ms("90s") == 90_000
    assert parse_duration_ms("1d") == 86_400_000
    with pytest.raises(ValueError):
        parse_duration_ms("5x")


def test_golden_sum_constant_series(spark):
    """`prometheus/promql_test.go:45-58` golden expectation."""
    engine = PromQLEngine(_stub_samples(spark))
    out = engine.query_range("sum(http_requests_total)", 0, 300_000, 60_000)
    rows = sorted(out.collect(), key=lambda r: r["t"])
    assert [r["t"] for r in rows] == [0, 60_000, 120_000, 180_000, 240_000, 300_000]
    assert all(r["value"] == 3.0 for r in rows)


def test_matcher_filtering(spark):
    engine = PromQLEngine(_stub_samples(spark))
    out = engine.query_range(
        'sum by (job) (http_requests_total{job="api-server"})',
        0,
        300_000,
        60_000,
    )
    rows = out.collect()
    assert {r["job"] for r in rows} == {"api-server"}
    assert all(r["value"] == 2.0 for r in rows)  # 2 api-server series


def test_count_over_time_tumbling(spark):
    engine = PromQLEngine(_stub_samples(spark))
    out = engine.query_range(
        "sum by (job) (count_over_time(http_requests_total[60s]))",
        60_000,
        300_000,
        60_000,
    )
    rows = {(r["t"], r["job"]): r["value"] for r in out.collect()}
    # each 60s window holds 2 samples per series; api-server has 2 series
    assert rows[(120_000, "api-server")] == 4.0
    assert rows[(120_000, "kubelet")] == 2.0


def test_rate_linear_series(spark):
    rows = [("m", "a", ts, ts / 1000.0) for ts in range(0, 600_001, 30_000)]
    samples = spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    )
    engine = PromQLEngine(samples)
    out = engine.query_range("rate(m[5m])", 300_000, 600_000, 300_000)
    for r in out.collect():
        assert r["value"] == pytest.approx(1.0)  # 1 unit/sec


def test_without_grouping(spark):
    """`sum without (instance)` aggregates away ONLY the listed label —
    equivalent here to `sum by (job)` since job+instance is the full
    series key."""
    engine = PromQLEngine(_stub_samples(spark))
    w = engine.query_range(
        "sum without (instance) (http_requests_total)", 0, 300_000, 60_000
    )
    b = engine.query_range(
        "sum by (job) (http_requests_total)", 0, 300_000, 60_000
    )
    assert sorted(w.columns) == sorted(b.columns)
    assert sorted(map(tuple, w.collect())) == sorted(map(tuple, b.collect()))


def test_at_modifier_pins_evaluation_time(spark):
    """`m @ 60` evaluates at t=60s for EVERY step: the result is constant
    across the range and equals the unpinned value at 60s."""
    rows = [("m", "a", ts, ts / 1000.0) for ts in range(0, 300_001, 30_000)]
    samples = spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    )
    engine = PromQLEngine(samples)
    out = engine.query_range("sum(m @ 60)", 0, 300_000, 60_000).collect()
    assert [r["t"] for r in out] == [0, 60_000, 120_000, 180_000, 240_000, 300_000]
    assert all(r["value"] == 60.0 for r in out)  # the sample AT 60s


def test_math_functions(spark):
    rows = [("m", "a", 0, -2.5), ("m", "b", 0, 7.5)]
    samples = spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    )
    engine = PromQLEngine(samples)

    def vals(q):
        return {
            r["job"]: r["value"]
            for r in engine.query_range(q, 0, 0, 60_000).collect()
        }

    assert vals("abs(m)") == {"a": 2.5, "b": 7.5}
    assert vals("ceil(m)") == {"a": -2.0, "b": 8.0}
    assert vals("floor(m)") == {"a": -3.0, "b": 7.0}
    assert vals("clamp(m, 0, 5)") == {"a": 0.0, "b": 5.0}
    assert vals("clamp_min(m, 1)") == {"a": 1.0, "b": 7.5}
    assert vals("clamp_max(m, 1)") == {"a": -2.5, "b": 1.0}
    assert vals("abs(m) * 2") == {"a": 5.0, "b": 15.0}


def test_label_replace(spark):
    rows = [("m", "api-7", 0, 1.0), ("m", "web", 0, 2.0)]
    samples = spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    )
    engine = PromQLEngine(samples)
    out = engine.query_range(
        'label_replace(m, "job", "svc-$1", "job", "api-(.*)")',
        0, 0, 60_000,
    ).collect()
    # full-anchored match rewrites api-7 -> svc-7; web is left unchanged
    assert {r["job"] for r in out} == {"svc-7", "web"}


def test_rate_extrapolation(spark):
    """Hand-computed Prometheus extrapolatedRate: two samples at 120s/180s
    in a (0, 300s] window.  sampled=60s, avg spacing 60s, threshold 66s;
    both edge gaps (120s) exceed it so each clamps to avg/2=30s; the zero
    crossing (60s * 10/30 = 20s) further clamps the start side.  delta=30
    -> increase = 30 * (60+20+30)/60 = 55 -> rate = 55/300."""
    rows = [("m", "a", 120_000, 10.0), ("m", "a", 180_000, 40.0)]
    samples = spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    )
    plain = PromQLEngine(samples).query_range(
        "rate(m[5m])", 300_000, 300_000, 300_000
    )
    assert plain.collect()[0]["value"] == pytest.approx(0.5)  # 30/60s
    ext = PromQLEngine(samples, extrapolate=True).query_range(
        "rate(m[5m])", 300_000, 300_000, 300_000
    )
    assert ext.collect()[0]["value"] == pytest.approx(55.0 / 300.0)
    ext_inc = PromQLEngine(samples, extrapolate=True).query_range(
        "increase(m[5m])", 300_000, 300_000, 300_000
    )
    assert ext_inc.collect()[0]["value"] == pytest.approx(55.0)


def test_unknown_metric_returns_empty(spark):
    engine = PromQLEngine(_stub_samples(spark))
    out = engine.query_range("sum(nonexistent_metric)", 0, 300_000, 60_000)
    assert out.count() == 0


def test_binary_vector_scalar(spark):
    engine = PromQLEngine(_stub_samples(spark))
    out = engine.query_range("sum(http_requests_total) * 2 + 1", 0, 0, 60_000)
    assert out.collect()[0]["value"] == 7.0  # 3*2+1


def test_binary_vector_vector_ratio(spark):
    engine = PromQLEngine(_stub_samples(spark))
    out = engine.query_range(
        'sum by (job) (http_requests_total{job="api-server"})'
        ' / sum by (job) (http_requests_total{job="api-server"})',
        0,
        300_000,
        60_000,
    )
    rows = out.collect()
    assert rows and all(r["value"] == 1.0 for r in rows)


def test_parse_on_matching():
    e = parse_promql("a / on(job, region) group_left b")
    assert e.matching_mode == "on"
    assert e.matching == ["job", "region"]
    assert e.group == "left"
    e2 = parse_promql("a + ignoring(instance) b")
    assert e2.matching_mode == "ignoring"
    assert e2.matching == ["instance"] and e2.group is None


def test_on_matching_one_to_one(spark):
    """`on(job)` must key the join on the NAMED label only and the result
    must carry exactly (t, job) — the instance label from either side is
    dropped."""
    engine = PromQLEngine(_stub_samples(spark))
    out = engine.query_range(
        'sum by (job) (http_requests_total{job="api-server"})'
        ' / on(job) sum by (job) (http_requests_total{job="api-server"})',
        0,
        300_000,
        60_000,
    )
    rows = out.collect()
    assert sorted(out.columns) == ["job", "t", "value"]
    assert rows and all(r["value"] == 1.0 for r in rows)


def test_ignoring_matching(spark):
    """`ignoring(instance)` drops instance from the shared-label match
    key; with per-(job,instance) vs per-job operands aggregated to the
    same grain the match succeeds where the default all-shared matching
    would also need instance to agree."""
    engine = PromQLEngine(_stub_samples(spark))
    out = engine.query_range(
        "sum by (job) (http_requests_total)"
        " - ignoring(instance) sum by (job) (http_requests_total)",
        0,
        300_000,
        60_000,
    )
    rows = out.collect()
    assert rows and all(r["value"] == 0.0 for r in rows)


def test_group_left_many_to_one(spark):
    """Shard-share ratio: per-(job,instance) counts divided `on(job)
    group_left` by per-job totals — the many side keeps its full label
    set and each row divides by its group's total."""
    engine = PromQLEngine(_stub_samples(spark))
    out = engine.query_range(
        'sum by (job, instance) (http_requests_total{job="api-server"})'
        " / on(job) group_left"
        ' sum by (job) (http_requests_total{job="api-server"})',
        0,
        0,
        60_000,
    )
    rows = out.collect()
    assert sorted(out.columns) == ["instance", "job", "t", "value"]
    assert len(rows) == 2  # two api-server instances
    assert all(r["value"] == 0.5 for r in rows)  # each is half the total


def test_on_missing_label_raises(spark):
    engine = PromQLEngine(_stub_samples(spark))
    with pytest.raises(ValueError, match="absent"):
        engine.query_range(
            "sum by (job) (http_requests_total)"
            " / on(nope) sum by (job) (http_requests_total)",
            0,
            0,
            60_000,
        )


def test_topk_keeps_k_series(spark):
    rows = []
    for job, v in [("a", 1.0), ("b", 5.0), ("c", 3.0)]:
        rows.append(("m", job, 0, v))
    samples = spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    )
    engine = PromQLEngine(samples)
    out = engine.query_range("topk(2, m)", 0, 0, 60_000).collect()
    assert {(r["job"], r["value"]) for r in out} == {("b", 5.0), ("c", 3.0)}
    bottom = engine.query_range("bottomk(1, m)", 0, 0, 60_000).collect()
    assert [(r["job"], r["value"]) for r in bottom] == [("a", 1.0)]


def test_topk_over_aggregation(spark):
    engine = PromQLEngine(_stub_samples(spark))
    out = engine.query_range(
        "topk(1, sum by (job) (http_requests_total))", 0, 0, 60_000
    ).collect()
    assert len(out) == 1
    assert out[0]["job"] == "api-server" and out[0]["value"] == 2.0


def test_topk_by_keeps_k_per_group(spark):
    rows = [
        ("m", "us", "a", 0, 1.0), ("m", "us", "b", 0, 5.0),
        ("m", "eu", "c", 0, 3.0), ("m", "eu", "d", 0, 2.0),
    ]
    samples = spark.createDataFrame(
        rows,
        "`__name__` STRING, region STRING, job STRING, ts LONG, value DOUBLE",
    )
    engine = PromQLEngine(samples)
    out = engine.query_range("topk by (region) (1, m)", 0, 0, 60_000).collect()
    assert {(r["region"], r["job"]) for r in out} == {("us", "b"), ("eu", "c")}


def test_counter_reset_compensation(spark):
    # counter 0,10,20, reset, 5,15: increase = 20 + 15 = last(15) -
    # first(0) + pre-reset value(20)
    vals = [(0, 0.0), (60_000, 10.0), (120_000, 20.0),
            (180_000, 5.0), (240_000, 15.0)]
    samples = spark.createDataFrame(
        [("m", "a", ts, v) for ts, v in vals],
        "`__name__` STRING, job STRING, ts LONG, value DOUBLE",
    )
    engine = PromQLEngine(samples)
    out = engine.query_range("increase(m[5m])", 240_000, 240_000, 60_000)
    assert out.collect()[0]["value"] == pytest.approx(35.0)
    rate = engine.query_range("rate(m[5m])", 240_000, 240_000, 60_000)
    assert rate.collect()[0]["value"] == pytest.approx(35.0 / 240.0)


def test_offset_modifier_shifts_window(spark):
    # samples at 0..300s with value = ts/1000; "m offset 5m" at t=600s
    # must see the sample from 300s (value 300), not nothing
    rows = [("m", "a", ts, ts / 1000.0) for ts in range(0, 300_001, 60_000)]
    samples = spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    )
    engine = PromQLEngine(samples)
    out = engine.query_range("m offset 5m", 600_000, 600_000, 60_000).collect()
    assert len(out) == 1 and out[0]["value"] == 300.0
    # range-selector offset: sum_over_time(m[5m] offset 5m) at 600s covers
    # samples in (0s, 300s] -> 60+120+180+240+300
    out2 = engine.query_range(
        "sum_over_time(m[5m] offset 5m)", 600_000, 600_000, 60_000
    ).collect()
    assert len(out2) == 1 and out2[0]["value"] == pytest.approx(900.0)


def test_instant_staleness_excludes_old_samples(spark):
    # single sample at t=0; with 5m lookback it is visible until 300s only
    samples = spark.createDataFrame(
        [("m", "a", 0, 7.0)], "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    )
    engine = PromQLEngine(samples)
    out = engine.query_range("m", 0, 600_000, 60_000)
    ts = sorted(r["t"] for r in out.collect())
    assert ts == [0, 60_000, 120_000, 180_000, 240_000]


def test_comparison_filter_and_bool(spark):
    rows = [("m", "a", 0, 3.0), ("m", "b", 0, 7.0)]
    samples = spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    )
    engine = PromQLEngine(samples)

    def vals(q):
        return {
            r["job"]: r["value"]
            for r in engine.query_range(q, 0, 0, 60_000).collect()
        }

    assert vals("m > 5") == {"b": 7.0}  # filter keeps the value
    assert vals("m > bool 5") == {"a": 0.0, "b": 1.0}
    assert vals("m <= 3") == {"a": 3.0}
    assert vals("m != 3") == {"b": 7.0}
    assert vals("m == 7") == {"b": 7.0}
    assert vals("m + 1 > 5") == {"b": 8.0}  # cmp binds looser than +


def test_vector_vector_comparison(spark):
    rows = [
        ("m", "a", 0, 3.0), ("m", "b", 0, 7.0),
        ("n", "a", 0, 5.0), ("n", "b", 0, 5.0),
    ]
    samples = spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    )
    engine = PromQLEngine(samples)
    out = {
        r["job"]: r["value"]
        for r in engine.query_range("m > n", 0, 0, 60_000).collect()
    }
    assert out == {"b": 7.0}  # left operand's value survives


def test_sgn_round(spark):
    rows = [("m", "a", 0, -2.5), ("m", "b", 0, 7.36)]
    samples = spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    )
    engine = PromQLEngine(samples)

    def vals(q):
        return {
            r["job"]: r["value"]
            for r in engine.query_range(q, 0, 0, 60_000).collect()
        }

    assert vals("sgn(m)") == {"a": -1.0, "b": 1.0}
    assert vals("round(m)") == {"a": -2.0, "b": 7.0}  # ties round up
    assert vals("round(m, 0.1)") == {"a": -2.5, "b": pytest.approx(7.4)}


def test_new_range_funcs(spark):
    # one series: 1, 5, 2, 2, 8 at t=0..240s — a reset at 5->2
    vals_in = [1.0, 5.0, 2.0, 2.0, 8.0]
    rows = [("m", "a", i * 60_000, v) for i, v in enumerate(vals_in)]
    samples = spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    )
    engine = PromQLEngine(samples)

    def one(q):
        out = engine.query_range(q, 240_000, 240_000, 60_000).collect()
        assert len(out) == 1
        return out[0]["value"]

    assert one("delta(m[5m])") == 7.0  # 8 - 1, no reset correction
    assert one("idelta(m[5m])") == 6.0  # 8 - 2
    assert one("irate(m[5m])") == pytest.approx(0.1)  # (8-2)/60s
    assert one("changes(m[5m])") == 3.0  # 1->5, 5->2, 2->8
    assert one("resets(m[5m])") == 1.0  # 5->2
    assert one("present_over_time(m[5m])") == 1.0
    assert one("stddev_over_time(m[5m])") == pytest.approx(6.64**0.5)
    assert one("quantile_over_time(0.5, m[5m])") == 2.0
    assert one("stddev(m)") == 0.0  # population stddev of one series


def test_irate_counter_reset(spark):
    rows = [("m", "a", 0, 10.0), ("m", "a", 60_000, 2.0)]
    samples = spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    )
    engine = PromQLEngine(samples)
    out = engine.query_range("irate(m[2m])", 60_000, 60_000, 60_000).collect()
    # reset between the last two samples: dv = last value alone
    assert out[0]["value"] == pytest.approx(2.0 / 60.0)


def test_histogram_quantile(spark):
    # buckets per series: le=1 -> 2 obs, le=2 -> +3 (cum 5), le=4 -> +5
    # (cum 10), +Inf -> cum 10.  q=0.5 -> rank 5 -> exactly the le=2
    # boundary; q=0.9 -> rank 9 -> 2 + (4-2)*(9-5)/(10-5) = 3.6
    cums = {"1": 2.0, "2": 5.0, "4": 10.0, "+Inf": 10.0}
    rows = [("b", le, 0, c) for le, c in cums.items()]
    samples = spark.createDataFrame(
        rows, "`__name__` STRING, le STRING, ts LONG, value DOUBLE"
    )
    engine = PromQLEngine(samples)

    def q(phi):
        out = engine.query_range(
            f"histogram_quantile({phi}, b)", 0, 0, 60_000
        ).collect()
        assert len(out) == 1
        return out[0]["value"]

    assert q(0.5) == pytest.approx(2.0)
    assert q(0.9) == pytest.approx(3.6)
    assert q(1.0) == pytest.approx(4.0)  # +Inf bucket -> highest finite le
    assert q(0.1) == pytest.approx(0.5)  # 0 + (1-0)*(1-0)/(2-0)


def test_absent_over_time(spark):
    # series exists only in [0, 60s]; windows are (t-60s, t], so the
    # last present step is t=60s and every later window is empty
    rows = [("m", "a", 0, 1.0), ("m", "a", 60_000, 1.0)]
    samples = spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    )
    engine = PromQLEngine(samples)
    out = engine.query_range(
        'absent_over_time(m{job="a"}[1m])', 0, 300_000, 60_000
    ).collect()
    assert {r["t"] for r in out} == {120_000, 180_000, 240_000, 300_000}
    assert all(r["value"] == 1.0 and r["job"] == "a" for r in out)
    # selector that matches nothing -> absent at EVERY step
    out2 = engine.query_range(
        'absent_over_time(nope{job="x"}[1m])', 0, 120_000, 60_000
    ).collect()
    assert {r["t"] for r in out2} == {0, 60_000, 120_000}
    assert all(r["job"] == "x" for r in out2)


def test_count_values_and_group(spark):
    rows = [
        ("m", "a", 0, 2.0), ("m", "b", 0, 2.0), ("m", "c", 0, 5.0),
    ]
    samples = spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    )
    engine = PromQLEngine(samples)
    cv = engine.query_range('count_values("v", m)', 0, 0, 60_000).collect()
    got = {(r["v"]): r["value"] for r in cv}
    assert got == {"2.0": 2.0, "5.0": 1.0}
    # grouping collapses labels before counting distinct values per group
    g = engine.query_range("group(m)", 0, 0, 60_000).collect()
    assert len(g) == 1 and g[0]["value"] == 1.0


def test_set_operators(spark):
    rows = [
        ("m", "a", "x", 0, 1.0), ("m", "b", "x", 0, 2.0), ("m", "c", "y", 0, 3.0),
        ("n", "a", "x", 0, 10.0), ("n", "c", "z", 0, 30.0), ("n", "d", "y", 0, 40.0),
    ]
    samples = spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, zone STRING, ts LONG, value DOUBLE"
    )
    engine = PromQLEngine(samples)
    # default matching: full label set — only job=a zone=x matches across
    got = {(r["job"], r["zone"]): r["value"]
           for r in engine.query_range("m and n", 0, 0, 60_000).collect()}
    assert got == {("a", "x"): 1.0}
    # on(job): job c matches too (zones differ)
    got = {r["job"] for r in
           engine.query_range("m and on(job) n", 0, 0, 60_000).collect()}
    assert got == {"a", "c"}
    # ignoring(zone) == on(job) here
    got2 = {r["job"] for r in
            engine.query_range("m unless ignoring(zone) n", 0, 0, 60_000).collect()}
    assert got2 == {"b"}
    # or: left rows kept with left values, right-only label sets appended
    got = {(r["job"], r["zone"]): r["value"]
           for r in engine.query_range("m or n", 0, 0, 60_000).collect()}
    assert got == {("a", "x"): 1.0, ("b", "x"): 2.0, ("c", "y"): 3.0,
                   ("c", "z"): 30.0, ("d", "y"): 40.0}
    # precedence: `or` loosest — (m and on(job) n) or n keeps all of n's sets
    got = {(r["job"], r["zone"])
           for r in engine.query_range("m and on(job) n or n", 0, 0, 60_000).collect()}
    assert got == {("a", "x"), ("c", "y"), ("a", "x"), ("c", "z"), ("d", "y")}


def test_quantile_agg(spark):
    rows = [("m", j, 0, v) for j, v in
            [("a", 1.0), ("b", 2.0), ("c", 3.0), ("d", 10.0)]]
    samples = spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    )
    engine = PromQLEngine(samples)
    out = engine.query_range("quantile(0.5, m)", 0, 0, 60_000).collect()
    # rank 0.5*(4-1) = 1.5 -> 2 + 0.5*(3-2) = 2.5
    assert len(out) == 1 and out[0]["value"] == 2.5


def test_deriv_and_predict_linear(spark):
    # perfect line: value = 2 * ts_seconds + 5
    rows = [("m", "a", ts, 2.0 * (ts / 1000.0) + 5.0)
            for ts in range(0, 60_001, 10_000)]
    samples = spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    )
    engine = PromQLEngine(samples)
    d = engine.query_range("deriv(m[1m])", 60_000, 60_000, 60_000).collect()
    assert len(d) == 1 and abs(d[0]["value"] - 2.0) < 1e-9
    # predicted 100s past the eval time: 2*(60+100) + 5 = 325
    p = engine.query_range(
        "predict_linear(m[1m], 100)", 60_000, 60_000, 60_000
    ).collect()
    assert len(p) == 1 and abs(p[0]["value"] - 325.0) < 1e-6
    # single sample in window -> no output (Prometheus needs >= 2)
    one = samples.filter("ts = 0")
    d1 = PromQLEngine(one).query_range(
        "deriv(m[1m])", 0, 0, 60_000
    ).collect()
    assert d1 == []


def test_time_and_vector(spark):
    rows = [("m", "a", 0, 5.0)]
    samples = spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    )
    engine = PromQLEngine(samples)
    out = engine.query_range("time()", 0, 120_000, 60_000).collect()
    assert [(r["t"], r["value"]) for r in out] == [
        (0, 0.0), (60_000, 60.0), (120_000, 120.0)]
    v = engine.query_range("vector(2.5)", 0, 60_000, 60_000).collect()
    assert [r["value"] for r in v] == [2.5, 2.5]
    # the `or vector(0)` fallback idiom: missing metric -> constant
    z = engine.query_range("sum(nope) or vector(0)", 0, 0, 60_000).collect()
    assert [(r["t"], r["value"]) for r in z] == [(0, 0.0)]


def test_calendar_functions(spark):
    # 2024-03-15 13:45:00 UTC = 1710510300; a Friday (dow 5), March has 31
    epoch = 1710510300.0
    rows = [("m", "a", 0, epoch)]
    samples = spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    )
    engine = PromQLEngine(samples)

    def one(q):
        out = engine.query_range(q, 0, 0, 60_000).collect()
        assert len(out) == 1
        return out[0]["value"]

    assert one("hour(m)") == 13.0
    assert one("minute(m)") == 45.0
    assert one("day_of_week(m)") == 5.0
    assert one("day_of_month(m)") == 15.0
    assert one("day_of_year(m)") == 75.0
    assert one("month(m)") == 3.0
    assert one("year(m)") == 2024.0
    assert one("days_in_month(m)") == 31.0
    # timestamp() reads the eval time, not the value
    assert one("timestamp(m)") == 0.0
    # a metric legitimately named `hour` still parses as a selector
    h = spark.createDataFrame(
        [("hour", "x", 0, 9.0)],
        "`__name__` STRING, job STRING, ts LONG, value DOUBLE",
    )
    assert PromQLEngine(h).query_range(
        "hour", 0, 0, 60_000
    ).collect()[0]["value"] == 9.0


def test_label_join(spark):
    rows = [("m", "api", "us", 0, 1.0)]
    samples = spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, zone STRING, ts LONG, value DOUBLE"
    )
    out = PromQLEngine(samples).query_range(
        'label_join(m, "slot", "-", "job", "zone")', 0, 0, 60_000
    ).collect()
    assert out[0]["slot"] == "api-us"
    # absent src labels contribute ""
    out2 = PromQLEngine(samples).query_range(
        'label_join(m, "slot", "-", "job", "nope")', 0, 0, 60_000
    ).collect()
    assert out2[0]["slot"] == "api-"


def test_subquery_max_over_time(spark):
    # per-minute counter of samples; inner sum_over_time at 1m resolution,
    # outer max over a 3m subquery window
    rows = [("m", "a", ts, float(v)) for ts, v in
            [(30_000, 1), (90_000, 2), (150_000, 4), (210_000, 1)]]
    samples = spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    )
    engine = PromQLEngine(samples)
    out = {r["t"]: r["value"] for r in engine.query_range(
        "max_over_time(sum_over_time(m[1m])[3m:1m])",
        180_000, 240_000, 60_000,
    ).collect()}
    # sub-steps at 60k increments: value at 60k=1, 120k=2, 180k=4, 240k=1
    # window (t-3m, t]: t=180k -> max(1,2,4)=4; t=240k -> max(2,4,1)=4
    assert out == {180_000: 4.0, 240_000: 4.0}


def test_subquery_rate_and_agg(spark):
    # counter rising 1/s sampled every 30s; rate over a subquery of the
    # instant selector must recover ~1.0, and sum() over the subquery node
    # exercises the generic PromAgg path
    rows = [("m", "a", ts * 1000, float(ts)) for ts in range(0, 301, 30)]
    samples = spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    )
    engine = PromQLEngine(samples)
    out = engine.query_range(
        "rate(m[2m:30s])", 300_000, 300_000, 60_000
    ).collect()
    assert len(out) == 1 and abs(out[0]["value"] - 1.0) < 1e-9
    s = engine.query_range(
        "sum(max_over_time(m[2m:1m]))", 300_000, 300_000, 60_000
    ).collect()
    assert len(s) == 1 and s[0]["value"] == 300.0


def test_holt_winters(spark):
    vals = [3.0, 5.0, 4.0, 7.0, 6.0, 9.0]
    sf, tf = 0.3, 0.2

    def ref(v):
        s0, s1, b = 0.0, v[0], v[1] - v[0]
        for i in range(1, len(v)):
            x = sf * v[i]
            if i != 1:
                b = tf * (s1 - s0) + (1 - tf) * b
            y = (1 - sf) * (s1 + b)
            s0, s1 = s1, x + y
        return s1

    # ts in (0, 60_000] so every sample lands in the single window
    rows = [("m", "a", (i + 1) * 10_000, v) for i, v in enumerate(vals)]
    samples = spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    )
    engine = PromQLEngine(samples)
    out = engine.query_range(
        "holt_winters(m[1m], 0.3, 0.2)", 60_000, 60_000, 60_000
    ).collect()
    assert len(out) == 1
    assert out[0]["value"] == pytest.approx(ref(vals), rel=1e-12)
    # two samples: seed only (the i=1 iteration)
    two = samples.filter("ts <= 20000")
    o2 = PromQLEngine(two).query_range(
        "holt_winters(m[1m], 0.3, 0.2)", 60_000, 60_000, 60_000
    ).collect()
    assert o2[0]["value"] == pytest.approx(ref(vals[:2]), rel=1e-12)
    # one sample: no output
    one = samples.filter("ts = 10000")
    assert PromQLEngine(one).query_range(
        "holt_winters(m[1m], 0.3, 0.2)", 60_000, 60_000, 60_000
    ).collect() == []


def test_cse_shared_subtree_evaluated_once(spark, monkeypatch):
    """`a and b or a`-style queries must evaluate the repeated subtree
    once per query_range (VERDICT r03 'What's wrong #3'): four textual
    references to the same count_over_time selector collapse to one
    inner evaluation, and the memoized result matches query_range's."""
    engine = PromQLEngine(_stub_samples(spark))
    q = (
        "(sum by (job, instance) (count_over_time(http_requests_total[1m]))"
        " and on(job)"
        " sum by (job) (count_over_time(http_requests_total[1m])) > 5) * 10"
        " or (sum by (job, instance) (count_over_time(http_requests_total[1m]))"
        " unless on(job)"
        " sum by (job) (count_over_time(http_requests_total[1m])) > 5)"
    )
    inner_evals = Counter()
    eval_inner = engine._eval_inner

    def counting(ev, node, *grid):
        inner_evals[repr(node)] += 1
        return eval_inner(ev, node, *grid)

    monkeypatch.setattr(engine, "_eval_inner", counting)
    node = parse_promql(q)
    ev = _Evaluation(engine, node)
    rows = ev.eval(node, 0, 300_000, 60_000, DEFAULT_LOOKBACK_MS).collect()
    assert rows  # non-degenerate

    # every subtree the text references twice or more is evaluated
    # exactly once, and pinned exactly once
    twice_referenced = [fp for fp, n in ev.refs.items() if n >= 2]
    assert twice_referenced, "expected shared subtrees"
    for fp in twice_referenced:
        assert inner_evals[fp] == 1, fp
    assert len(ev.pinned) == len(twice_referenced)
    # deeper: both aggregations share ONE selector core (the stripped
    # count_over_time selector), so the whole query does a single
    # decode-scan-window pipeline
    core = repr(parse_promql("count_over_time(http_requests_total[1m])"))
    assert ev.refs[core] == 4
    assert [k for k in ev.memo if k[0] == core] == [
        (core, 0, 300_000, 60_000, DEFAULT_LOOKBACK_MS)
    ]

    # the per-call result equals query_range's (a fresh evaluation)
    plain_out = engine.query_range(q, 0, 300_000, 60_000)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, plain_out.collect()))


def test_query_range_writes_no_engine_state(spark):
    """Evaluation state lives in the call, not on the engine: a second
    query_range leaves every engine attribute as it was (the lazily
    built shared_scan pin is the one cross-query field)."""
    def state(engine):
        # copies of containers, so an in-place write shows too
        return {
            k: copy.copy(v) if isinstance(v, (list, dict)) else v
            for k, v in vars(engine).items()
        }

    q = (
        "sum by (job) (rate(http_requests_total[1m]))"
        " and on(job) sum by (job) (rate(http_requests_total[1m]))"
    )
    for shared_scan in (False, True):
        engine = PromQLEngine(_stub_samples(spark), shared_scan=shared_scan)
        engine.query_range(q, 0, 300_000, 60_000).collect()
        before = state(engine)
        engine.query_range(q, 0, 300_000, 60_000).collect()
        assert state(engine) == before


def test_cse_subquery_grids_not_conflated(spark):
    """The memo key includes the evaluation grid: a selector used both at
    the top level and inside a subquery (different step/grid) must not
    reuse the wrong frame."""
    engine = PromQLEngine(_stub_samples(spark))
    q = (
        "max_over_time(sum(http_requests_total)[2m:1m])"
        " + sum(http_requests_total)"
    )
    out = engine.query_range(q, 120_000, 300_000, 60_000).collect()
    # constant 1.0-valued series, 3 series total: sum == 3 at every step;
    # max over the trailing 2m of sums == 3 -> 3 + 3 = 6
    assert all(abs(r["value"] - 6.0) < 1e-9 for r in out)


def test_instant_absent(spark):
    rows = []
    for job in ("a", "b"):
        for ts in range(0, 300_001, 30_000):
            if not (job == "b" and 60_000 <= ts <= 120_000):
                rows.append(("m", job, ts, float(ts)))
    samples = spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    )
    e = PromQLEngine(samples)
    # selector matching nothing: absent at every step, labels synthesized
    out = e.query_range('absent(m{job="zzz"})', 0, 120_000, 60_000).collect()
    out.sort(key=lambda r: r["t"])
    assert [(r["t"], r["job"], r["value"]) for r in out] == [
        (0, "zzz", 1.0), (60_000, "zzz", 1.0), (120_000, "zzz", 1.0)
    ]
    # gap detection with a tight lookback: b is missing 60k-120k
    out = e.query_range(
        'absent(m{job="b"})', 0, 300_000, 60_000, lookback_ms=30_000
    ).collect()
    assert sorted(r["t"] for r in out) == [60_000, 120_000]
    # derived vectors: label-free, and empty when the vector is dense
    assert (
        e.query_range('absent(sum(m{job="a"}))', 0, 60_000, 60_000).count() == 0
    )


def _step_order(promql: str, rows, t: int) -> list:
    """Step ``t``'s rows in the order the vector renderer gives them:
    frames are unordered, ``sort*`` is applied at the render boundary."""
    samples = [
        ({k: v for k, v in r.asDict().items() if k not in ("t", "value") and v},
         r["value"], r)
        for r in rows if r["t"] == t
    ]
    return [s[2] for s in sort_vector(parse_promql(promql), samples)]


def test_sort_desc(spark):
    samples = _stub_samples(spark)
    e = PromQLEngine(samples)
    q = "sort_desc(sum by (job) (count_over_time(http_requests_total[1m])))"
    out = e.query_range(q, 60_000, 120_000, 60_000).collect()
    # api-server has 2 series, kubelet 1 -> desc order within each step
    for t in (60_000, 120_000):
        vals = [(r["job"], r["value"]) for r in _step_order(q, out, t)]
        assert vals == sorted(vals, key=lambda x: -x[1])
        assert vals[0][0] == "api-server"
    # nested sort is a presentation no-op, not an error
    e.query_range(
        "sum(sort(http_requests_total))", 60_000, 60_000, 60_000
    ).collect()


def test_sort_by_label(spark):
    """sort_by_label / sort_by_label_desc (Prometheus experimental
    functions): presentation order by label string values, absent labels
    sorting as empty string."""
    samples = _stub_samples(spark)
    e = PromQLEngine(samples)
    q = (
        'sort_by_label(sum by (job) '
        "(count_over_time(http_requests_total[1m])), \"job\")"
    )
    out = e.query_range(q, 60_000, 120_000, 60_000).collect()
    for t in (60_000, 120_000):
        jobs = [r["job"] for r in _step_order(q, out, t)]
        assert jobs == sorted(jobs)
    q = (
        'sort_by_label_desc(sum by (job) '
        "(count_over_time(http_requests_total[1m])), \"job\")"
    )
    out = e.query_range(q, 60_000, 120_000, 60_000).collect()
    for t in (60_000, 120_000):
        jobs = [r["job"] for r in _step_order(q, out, t)]
        assert jobs == sorted(jobs, reverse=True)
    # a label the vector does not carry sorts as "" for every series —
    # remaining labels break the tie, and parsing must not error
    e.query_range(
        'sort_by_label(sum by (job) '
        "(count_over_time(http_requests_total[1m])), \"nope\", \"job\")",
        60_000, 60_000, 60_000,
    ).collect()
    with pytest.raises(ValueError):
        e.query_range("sort_by_label(http_requests_total)", 0, 0, 60_000)


def test_math_function_tail(spark):
    import math

    rows = [("m", "a", 0, 8.0), ("m", "b", 0, 0.25)]
    samples = spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    )
    engine = PromQLEngine(samples)

    def vals(q):
        return {
            r["job"]: r["value"]
            for r in engine.query_range(q, 0, 0, 60_000).collect()
        }

    assert vals("log2(m)") == {"a": 3.0, "b": -2.0}
    assert vals("log10(m)")["a"] == pytest.approx(math.log10(8.0))
    assert vals("sin(m)")["a"] == pytest.approx(math.sin(8.0))
    assert vals("atan(m)")["b"] == pytest.approx(math.atan(0.25))
    assert vals("deg(m)")["a"] == pytest.approx(math.degrees(8.0))
    assert vals("rad(deg(m))")["a"] == pytest.approx(8.0)


def test_stdvar_over_time(spark):
    rows = [("m", "a", ts, float(v)) for ts, v in
            [(10_000, 1.0), (20_000, 3.0), (30_000, 5.0)]]
    samples = spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    )
    engine = PromQLEngine(samples)
    out = engine.query_range(
        "stdvar_over_time(m[1m])", 60_000, 60_000, 60_000
    ).collect()
    # population variance of {1,3,5} = 8/3
    assert out[0]["value"] == pytest.approx(8.0 / 3.0)
    out = engine.query_range(
        "stddev_over_time(m[1m])", 60_000, 60_000, 60_000
    ).collect()
    assert out[0]["value"] == pytest.approx((8.0 / 3.0) ** 0.5)


def test_mod_pow_atan2_operators(spark):
    """% ^ atan2 at the */ precedence tier, ^ right-associative and
    tightest (Prometheus operator table)."""
    rows = [("m", "a", 0, 8.0), ("m", "b", 0, 0.25)]
    samples = spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    )
    engine = PromQLEngine(samples)

    def vals(q):
        return {
            r["job"]: r["value"]
            for r in engine.query_range(q, 0, 0, 60_000).collect()
        }

    assert vals("m % 3")["a"] == pytest.approx(2.0)
    assert vals("m ^ 2")["a"] == pytest.approx(64.0)
    # right-assoc: m ^ 3 ^ 2 = m ^ 9
    assert vals("m ^ 3 ^ 2")["b"] == pytest.approx(0.25 ** 9)
    # ^ binds tighter than %: 8 % 3^2 = 8 % 9 = 8
    assert vals("m % 3 ^ 2")["a"] == pytest.approx(8.0)
    assert vals("m atan2 m")["a"] == pytest.approx(math.atan2(8.0, 8.0))
    # scalar-scalar folding happens at parse time
    assert vals("m * (2 ^ 3 ^ 2)")["b"] == pytest.approx(0.25 * 512.0)
    # atan2 in infix position only: a metric may be NAMED atan2
    rows2 = [("atan2", "a", 0, 4.0)]
    eng2 = PromQLEngine(spark.createDataFrame(
        rows2, "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    ))
    out = eng2.query_range("atan2 * 2", 0, 0, 60_000).collect()
    assert out[0]["value"] == pytest.approx(8.0)


def test_pi_and_inverse_hyperbolics(spark):
    rows = [("m", "a", 0, 1.0)]
    engine = PromQLEngine(spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    ))

    def one(q):
        return engine.query_range(q, 0, 0, 60_000).collect()[0]["value"]

    assert one("m * pi()") == pytest.approx(math.pi)
    assert one("asinh(m)") == pytest.approx(math.asinh(1.0))
    assert one("acosh(m + 1)") == pytest.approx(math.acosh(2.0))
    assert one("atanh(m / 2)") == pytest.approx(math.atanh(0.5))


def test_scalar_function(spark):
    """scalar(v): per-step scalar; vector operand keeps its labels; >1
    series yields NaN."""
    rows = [
        ("one", "a", 0, 5.0), ("one", "a", 60_000, 7.0),
        ("many", "a", 0, 1.0), ("many", "b", 0, 2.0),
    ]
    engine = PromQLEngine(spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    ))
    out = engine.query_range("many * scalar(one)", 0, 0, 60_000).collect()
    got = {r["job"]: r["value"] for r in out}
    assert got == {"a": 5.0, "b": 10.0}
    # the scalar varies per step
    out = engine.query_range("scalar(one) * vector(1)", 0, 60_000, 60_000)
    assert {r["t"]: r["value"] for r in out.collect()} == {0: 5.0, 60_000: 7.0}
    # two series under scalar() -> NaN
    out = engine.query_range("vector(1) * scalar(many)", 0, 0, 60_000).collect()
    assert math.isnan(out[0]["value"])
    # vector cmp scalar(): filter semantics keeping the vector's value
    out = engine.query_range("many > scalar(one) / 4", 0, 0, 60_000).collect()
    assert {r["job"]: r["value"] for r in out} == {"b": 2.0}


def test_scalar_fold_ieee_domains():
    """Go math.Mod/Pow semantics on domains where Python's math module
    raises: parse-time folding must yield NaN/Inf, never crash."""
    import math

    from tsdb_parquet_spark.plans.promql import (
        _ieee_fmod,
        _ieee_pow,
        parse_promql,
    )

    assert math.isnan(_ieee_fmod(1.0, 0.0))
    assert math.isnan(_ieee_fmod(math.inf, 2.0))
    assert _ieee_pow(0.0, -1.0) == math.inf
    assert math.isnan(_ieee_pow(-2.0, 0.5))
    assert _ieee_pow(2.0, 10.0) == 1024.0
    # end-to-end: folding these does not raise at parse time
    parse_promql("m + 1 % 0")
    parse_promql("m * (0 ^ 2)")


def test_shared_scan_same_results_and_persistent_pin(spark):
    """shared_scan=True must be result-invariant (filters apply after the
    checkpoint instead of before the scan) and the scan pin must outlive
    the evaluation that built it (unlike its per-call CSE pins), so a
    second query_range reuses the materialized frame instead of
    re-decoding."""
    plain = PromQLEngine(_stub_samples(spark))
    shared = PromQLEngine(_stub_samples(spark), shared_scan=True)
    for promql in (
        "sum(http_requests_total)",
        'http_requests_total{job="api"}',
        "count_over_time(http_requests_total[2m])",
    ):
        a = plain.query_range(promql, 0, 300_000, 60_000).collect()
        b = shared.query_range(promql, 0, 300_000, 60_000).collect()
        assert a == b, promql
    pin = shared._scan_pin
    assert pin is not None
    shared.query_range("sum(http_requests_total)", 0, 300_000, 60_000).collect()
    assert shared._scan_pin is pin  # one checkpoint per engine lifetime
    assert plain._scan_pin is None  # default off: raw plan, full pushdown


def test_shared_scan_lost_blocks_rebuilds_not_fails(spark):
    """Kill the shared-scan checkpoint's executor blocks mid-session (the
    local-mode stand-in for an executor loss): the next query_range must
    detect the loss, rebuild the pin from source, and return the same
    results — not die with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND."""
    engine = PromQLEngine(_stub_samples(spark), shared_scan=True)
    first = engine.query_range(
        "sum(http_requests_total)", 0, 300_000, 60_000
    ).collect()
    pin = engine._scan_pin
    assert pin is not None and engine._shared_scan_alive()

    # remove the checkpoint blocks through the block manager master —
    # the same state an executor crash leaves behind
    sc = spark.sparkContext
    jrdd = pin._jdf.queryExecution().analyzed().rdd()
    assert jrdd.isCheckpointed()
    sc._jsc.sc().env().blockManager().master().removeRdd(jrdd.id(), True)
    import time

    deadline = time.time() + 10
    while engine._shared_scan_alive() and time.time() < deadline:
        time.sleep(0.2)
    assert not engine._shared_scan_alive()

    # sanity: the dead pin really is unusable (the failure mode we fix)
    import pytest as _pytest

    with _pytest.raises(Exception, match="CHECKPOINT|Checkpoint"):
        pin.count()

    second = engine.query_range(
        "sum(http_requests_total)", 0, 300_000, 60_000
    ).collect()
    assert second == first
    assert engine._scan_pin is not pin  # rebuilt, not reused
    assert engine._shared_scan_alive()


def test_postfix_grouping_positions_equivalent(spark):
    """Prometheus's grammar accepts the grouping clause before OR after
    the argument list: `sum by (a) (v)` == `sum(v) by (a)`.  Both
    positions must parse to identical ASTs and evaluate identically,
    for plain aggs, parameterized aggs, and count_values."""
    pairs = [
        ("sum by (job) (http_requests_total)",
         "sum(http_requests_total) by (job)"),
        ("max without (job) (http_requests_total)",
         "max(http_requests_total) without (job)"),
        ("quantile by (job) (0.5, http_requests_total)",
         "quantile(0.5, http_requests_total) by (job)"),
        ("topk by (job) (1, http_requests_total)",
         "topk(1, http_requests_total) by (job)"),
        ("count_values by (job) (\"v\", http_requests_total)",
         "count_values(\"v\", http_requests_total) by (job)"),
        ("sum by (job) (rate(http_requests_total[2m]))",
         "sum(rate(http_requests_total[2m])) by (job)"),
    ]
    for prefix, postfix in pairs:
        assert repr(parse_promql(prefix)) == repr(parse_promql(postfix)), prefix
    engine = PromQLEngine(_stub_samples(spark))
    a = engine.query_range(pairs[0][0], 0, 300_000, 60_000).collect()
    b = engine.query_range(pairs[0][1], 0, 300_000, 60_000).collect()
    assert a == b and len(a) > 0


def test_unary_minus_and_negative_offset(spark):
    engine = PromQLEngine(_stub_samples(spark))
    # unary minus: value-wise negation, labels kept
    def by_t(q, start, end):
        # frames are unordered: order this comparison's rows by step
        rows = engine.query_range(q, start, end, 60_000).collect()
        return sorted(rows, key=lambda r: r["t"])

    neg = by_t("-sum(http_requests_total)", 0, 300_000)
    pos = by_t("sum(http_requests_total)", 0, 300_000)
    assert [(r["t"], r["value"]) for r in neg] == [
        (r["t"], -r["value"]) for r in pos
    ]
    # -2^2 folds to -(2^2) per Prometheus precedence
    assert parse_promql("-2^2") == -4.0
    # negative offset looks FORWARD: evaluating at t with offset -60s
    # equals evaluating at t+60s without it
    fwd = by_t('http_requests_total{job="kubelet"} offset -60s', 0, 240_000)
    base = by_t('http_requests_total{job="kubelet"}', 60_000, 300_000)
    assert [r["value"] for r in fwd] == [r["value"] for r in base]
    assert [r["t"] + 60_000 for r in fwd] == [r["t"] for r in base]


def test_at_start_end_modifiers(spark):
    engine = PromQLEngine(_stub_samples(spark))
    # @ start() pins to the range start; identical to the literal form
    lit = engine.query_range(
        "sum(http_requests_total @ 0)", 0, 300_000, 60_000
    ).collect()
    st = engine.query_range(
        "sum(http_requests_total @ start())", 0, 300_000, 60_000
    ).collect()
    assert st == lit
    lit_end = engine.query_range(
        "sum(http_requests_total @ 300)", 0, 300_000, 60_000
    ).collect()
    en = engine.query_range(
        "sum(http_requests_total @ end())", 0, 300_000, 60_000
    ).collect()
    assert en == lit_end


def test_group_left_label_carry(spark):
    """group_left(extra) copies the named labels from the one side;
    labels absent there carry as "" (Prometheus absent-label form)."""
    rows = []
    for job, inst in (("api-server", "0"), ("api-server", "1")):
        for ts in range(0, 300_001, 30_000):
            rows.append(("requests", job, inst, "", ts, 2.0))
    # one side: per-job info series carrying an `env` label
    rows.append(("job_info", "api-server", "", "prod", 150_000, 1.0))
    samples = rows and _spark_frame_with_env(spark, rows)
    engine = PromQLEngine(samples)
    out = engine.query_range(
        'requests * on (job) group_left (env) job_info',
        150_000, 150_000, 60_000,
    ).collect()
    assert len(out) == 2  # both instances matched the one job_info row
    assert {r["env"] for r in out} == {"prod"}
    assert {r["instance"] for r in out} == {"0", "1"}
    assert {r["value"] for r in out} == {2.0}
    # carrying a label the one side lacks -> ""
    out2 = engine.query_range(
        'requests * on (job) group_left (missing_label) job_info',
        150_000, 150_000, 60_000,
    ).collect()
    assert {r["missing_label"] for r in out2} == {""}


def _spark_frame_with_env(spark, rows):
    return spark.createDataFrame(
        rows,
        "`__name__` STRING, job STRING, instance STRING, env STRING,"
        " ts LONG, value DOUBLE",
    )


def test_empty_grouping_lists(spark):
    engine = PromQLEngine(_stub_samples(spark))
    plain = engine.query_range(
        "sum(http_requests_total)", 0, 300_000, 60_000
    ).collect()
    by_empty = engine.query_range(
        "sum by () (http_requests_total)", 0, 300_000, 60_000
    ).collect()
    assert by_empty == plain
    # without () keeps every label -> same as grouping by all labels
    wo = engine.query_range(
        "sum without () (http_requests_total)", 0, 300_000, 60_000
    )
    assert set(wo.columns) >= {"t", "job", "instance", "value"}


def test_topk_without_grouping(spark):
    """`topk without (lbls) (k, v)` keeps k series per group formed by
    every OTHER label — previously the without clause parsed but was
    silently dropped (plain global topk), a wrong-answer class."""
    engine = PromQLEngine(_stub_samples(spark))
    # per-job top-1 by instance: without (instance) groups by job
    out = engine.query_range(
        "topk without (instance) (1, http_requests_total)",
        150_000, 150_000, 60_000,
    ).collect()
    jobs = sorted(r["job"] for r in out)
    assert jobs == ["api-server", "kubelet"]  # one winner per job group
    # equivalent by-form must agree
    by = engine.query_range(
        "topk by (job) (1, http_requests_total)",
        150_000, 150_000, 60_000,
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, by))


def test_mad_over_time(spark):
    """Prometheus mad_over_time: quantile(0.5) interpolation applied to
    the values, then to the absolute deviations from that median."""
    import statistics

    vals = [1.0, 3.0, 9.0, 2.0, 8.0]

    def ref(v):
        med = statistics.median(v)  # linear-interp at 0.5 == middle/mean
        return statistics.median(sorted(abs(x - med) for x in v))

    rows = [("m", "a", (i + 1) * 10_000, v) for i, v in enumerate(vals)]
    samples = spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    )
    out = PromQLEngine(samples).query_range(
        "mad_over_time(m[1m])", 60_000, 60_000, 60_000
    ).collect()
    assert len(out) == 1
    assert out[0]["value"] == pytest.approx(ref(vals), rel=1e-12)
    # even-count window exercises the interpolated (weight 0.5) branch
    even = samples.filter("ts <= 40000")
    o2 = PromQLEngine(even).query_range(
        "mad_over_time(m[1m])", 60_000, 60_000, 60_000
    ).collect()
    assert o2[0]["value"] == pytest.approx(ref(vals[:4]), rel=1e-12)
    # single sample: MAD is 0
    one = samples.filter("ts = 10000")
    o1 = PromQLEngine(one).query_range(
        "mad_over_time(m[1m])", 60_000, 60_000, 60_000
    ).collect()
    assert o1[0]["value"] == 0.0


def test_double_exponential_smoothing_alias(spark):
    """Prometheus 3.x renamed holt_winters; both names must evaluate
    identically (including inside an aggregation wrapper)."""
    rows = [
        ("m", "a", (i + 1) * 10_000, v)
        for i, v in enumerate([3.0, 5.0, 4.0, 7.0, 6.0, 9.0])
    ]
    samples = spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    )
    engine = PromQLEngine(samples)
    a = engine.query_range(
        "holt_winters(m[1m], 0.3, 0.2)", 60_000, 60_000, 60_000
    ).collect()
    b = engine.query_range(
        "double_exponential_smoothing(m[1m], 0.3, 0.2)",
        60_000, 60_000, 60_000,
    ).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    s = engine.query_range(
        "sum(double_exponential_smoothing(m[1m], 0.3, 0.2))",
        60_000, 60_000, 60_000,
    ).collect()
    assert s[0]["value"] == pytest.approx(a[0]["value"], rel=1e-12)


# ---------------------------------------------------------------------------
# HTTP API response shaping (docs/querying/api.md)
# ---------------------------------------------------------------------------


def test_api_value_matches_go_formatfloat():
    from tsdb_parquet_spark.plans.promql import _api_value

    # strconv.FormatFloat(v, 'f', -1, 64) reference answers
    assert _api_value(1.0) == "1"
    assert _api_value(-0.0) == "-0"
    assert _api_value(0.5) == "0.5"
    assert _api_value(1 / 3) == "0.3333333333333333"
    assert _api_value(3e-7) == "0.0000003"
    assert _api_value(1e21) == "1000000000000000000000"
    assert _api_value(float("inf")) == "+Inf"
    assert _api_value(float("-inf")) == "-Inf"
    assert _api_value(float("nan")) == "NaN"


def test_to_api_response_matrix_shape(spark):
    import json

    from tsdb_parquet_spark.plans.promql import PromQLEngine, to_api_response

    samples = spark.createDataFrame(
        [
            ("m", "api", "0", 10_000, 1.0),
            ("m", "api", "0", 70_000, 2.0),
            ("m", "web", "", 10_000, 5.0),  # empty label -> omitted
        ],
        "__name__ string, job string, shard string, ts long, value double",
    )
    engine = PromQLEngine(samples)
    out = engine.query_range("sum by (job, shard) (m)", 60_000, 120_000,
                             60_000, lookback_ms=60_000)
    resp = to_api_response(out)
    # must be valid JSON and the documented envelope
    json.dumps(resp)
    assert resp["status"] == "success"
    assert resp["data"]["resultType"] == "matrix"
    result = {tuple(sorted(s["metric"].items())): s["values"]
              for s in resp["data"]["result"]}
    api = result[(("job", "api"), ("shard", "0"))]
    web = result[(("job", "web"),)]  # shard "" omitted from metric
    # [unix SECONDS, "value-as-string"] in time order
    assert api == [[60.0, "1"], [120.0, "2"]]
    # web's only sample (t=10s) ages out of the 60s lookback by t=120s
    assert web == [[60.0, "5"]]


def test_to_api_instant_response_vector_shape(spark):
    import json

    import pytest as _pytest

    from tsdb_parquet_spark.plans.promql import (
        PromQLEngine,
        to_api_instant_response,
    )

    samples = spark.createDataFrame(
        [("m", "api", 10_000, 1.5), ("m", "web", 10_000, 2.0)],
        "__name__ string, job string, ts long, value double",
    )
    engine = PromQLEngine(samples)
    out = engine.query_range("sum by (job) (m)", 60_000, 60_000, 60_000,
                             lookback_ms=60_000)
    resp = to_api_instant_response(out)
    json.dumps(resp)
    assert resp["data"]["resultType"] == "vector"
    assert resp["data"]["result"] == [
        {"metric": {"job": "api"}, "value": [60.0, "1.5"]},
        {"metric": {"job": "web"}, "value": [60.0, "2"]},
    ]
    multi = engine.query_range("sum by (job) (m)", 60_000, 120_000, 60_000)
    with _pytest.raises(ValueError, match="one step"):
        to_api_instant_response(multi)


def test_data_window_conservative_bounds():
    from tsdb_parquet_spark.plans.promql import data_window, parse_promql

    lb = 300_000  # 5m lookback
    w = lambda q: data_window(parse_promql(q), 1_000_000, 2_000_000, lb)  # noqa: E731
    # instant selector: lookback behind every step
    assert w("sum(m)") == (1_000_000 - lb, 2_000_000)
    # range selector: its own range, not the lookback
    assert w("rate(m[10m])") == (1_000_000 - 600_000, 2_000_000)
    # offset shifts both ends; negative offset shifts forward
    assert w("m offset 1m") == (1_000_000 - lb - 60_000, 2_000_000 - 60_000)
    assert w("m offset -1m") == (1_000_000 - lb + 60_000, 2_000_000 + 60_000)
    # @ pins evaluation: the window collapses around the pin
    assert w("m @ 500") == (500_000 - lb, 500_000)
    assert w("m @ start()") == (1_000_000 - lb, 1_000_000)
    # binary: union of both sides
    assert w("rate(m[10m]) + (n offset 30m)") == (
        1_000_000 - lb - 1_800_000, 2_000_000 - 1_800_000 + 1_800_000)
    # subquery widens the inner evaluation interval by its range
    assert w("max_over_time(rate(m[1m])[30m:1m])") == (
        1_000_000 - 1_800_000 - 60_000, 2_000_000)
    # sample-free queries prune nothing
    assert w("vector(1) + time()") is None


def test_info_function(spark):
    """info(v): target_info data labels fill the input's absent labels
    per (job, instance, step); the data-label selector restricts WHICH
    labels are added and requires the value to match; aggregating away
    the identifying labels makes info a no-op (PromInfo's documented
    rules)."""
    from tsdb_parquet_spark.plans.promql import PromQLEngine

    rows = [
        ("app_events", "api", "i1", "", 60_000, 5.0),
        ("app_events", "api", "i2", "", 60_000, 7.0),
        ("app_events", "web", "i3", "", 60_000, 9.0),
        ("target_info", "api", "i1", "v1", 60_000, 1.0),
        ("target_info", "api", "i2", "v2", 60_000, 1.0),
    ]
    eng = PromQLEngine(spark.createDataFrame(
        rows,
        "`__name__` STRING, job STRING, instance STRING, "
        "version STRING, ts LONG, value DOUBLE",
    ))
    got = {
        r["instance"]: r["version"]
        for r in eng.query_range(
            "info(app_events)", 60_000, 60_000, 60_000
        ).collect()
    }
    assert got == {"i1": "v1", "i2": "v2", "i3": ""}
    # selector: only matching info values are added
    got = {
        r["instance"]: r["version"]
        for r in eng.query_range(
            'info(app_events, {version=~"v1"})', 60_000, 60_000, 60_000
        ).collect()
    }
    assert got == {"i1": "v1", "i2": "", "i3": ""}
    # identifying labels aggregated away -> unchanged (and still runs)
    out = eng.query_range("info(sum(app_events))", 60_000, 60_000, 60_000)
    assert out.columns == ["t", "value"] and out.collect()[0]["value"] == 21.0


def test_info_conflict_and_dedup(spark):
    """A non-empty input label wins over info data; duplicate info
    series per (job, instance, step) resolve deterministically (max)."""
    from tsdb_parquet_spark.plans.promql import PromQLEngine

    rows = [
        # input already carries version=keep -> info must not overwrite
        ("m", "api", "i1", "keep", 60_000, 5.0),
        ("m", "api", "i2", "", 60_000, 7.0),
        ("target_info", "api", "i1", "v1", 60_000, 1.0),
        # duplicate info series for i2 (conflicting versions)
        ("target_info", "api", "i2", "v2", 60_000, 1.0),
        ("target_info", "api", "i2", "v9", 60_000, 1.0),
    ]
    eng = PromQLEngine(spark.createDataFrame(
        rows,
        "`__name__` STRING, job STRING, instance STRING, "
        "version STRING, ts LONG, value DOUBLE",
    ))
    got = {
        r["instance"]: r["version"]
        for r in eng.query_range("info(m)", 60_000, 60_000, 60_000).collect()
    }
    assert got == {"i1": "keep", "i2": "v9"}


def test_info_plan_broadcasts(spark):
    from tsdb_parquet_spark.plans.promql import PromQLEngine

    rows = [
        ("m", "api", "i1", "", 60_000, 5.0),
        ("target_info", "api", "i1", "v1", 60_000, 1.0),
    ]
    eng = PromQLEngine(spark.createDataFrame(
        rows,
        "`__name__` STRING, job STRING, instance STRING, "
        "version STRING, ts LONG, value DOUBLE",
    ))
    out = eng.query_range("info(m)", 60_000, 60_000, 60_000)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_ts_of_over_time(spark):
    """ts_of_{last,max,min}_over_time (Prometheus 3.5 experimental):
    seconds timestamps, ties -> latest sample, NaN samples skipped."""
    from tsdb_parquet_spark.plans.promql import PromQLEngine

    rows = [
        ("m", "a", 60_000, 5.0),
        ("m", "a", 120_000, 9.0),
        ("m", "a", 180_000, 9.0),  # tie with 120s -> latest wins
        ("m", "a", 240_000, 2.0),
        ("m", "b", 60_000, float("nan")),
        ("m", "b", 120_000, 4.0),
    ]
    eng = PromQLEngine(spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    ))

    def run(fn):
        out = eng.query_range(f"{fn}(m[5m])", 300_000, 300_000, 60_000)
        return {r["job"]: r["value"] for r in out.collect()}

    assert run("ts_of_last_over_time") == {"a": 240.0, "b": 120.0}
    assert run("ts_of_max_over_time") == {"a": 180.0, "b": 120.0}
    assert run("ts_of_min_over_time") == {"a": 240.0, "b": 120.0}
    # the r16 first twins: oldest sample's timestamp/value; like
    # last_over_time, NaN is NOT skipped — the first point wins
    assert run("ts_of_first_over_time") == {"a": 60.0, "b": 60.0}
    first = run("first_over_time")
    assert first["a"] == 5.0 and math.isnan(first["b"])


@pytest.mark.parametrize(
    "suffix,matches_all",
    [
        # a matcher on a label column the store never materialized
        # resolves statically: absent label == "" (Prometheus
        # model/labels), so keep-all iff the matcher matches ""
        ('nolabel=""', True),
        ('nolabel="x"', False),
        ('nolabel!=""', False),
        ('nolabel!="x"', True),
        ('nolabel=~".*"', True),
        ('nolabel=~".+"', False),
        ('nolabel!~".*"', False),
        ('nolabel!~".+"', True),
    ],
)
def test_absent_label_matcher_semantics(spark, suffix, matches_all):
    engine = PromQLEngine(_stub_samples(spark))
    out = engine.query_range(
        "http_requests_total{%s}" % suffix, 60_000, 60_000, 60_000
    )
    n = out.count()
    assert n == (3 if matches_all else 0), suffix


def test_histogram_stddev_stdvar(spark):
    """Bucket-wise population variance with arithmetic midpoints (first
    bucket at le/2, +Inf at its finite lower edge) and the EXACT
    _sum/_count mean — the native-histogram stddev/stdvar lifted onto
    the classic reduction."""
    t = 60_000
    rows = [
        ("m_bucket", "a", "1", t, 2.0),
        ("m_bucket", "a", "2", t, 5.0),
        ("m_bucket", "a", "+Inf", t, 6.0),
        ("m_sum", "a", "", t, 7.5),
        ("m_count", "a", "", t, 6.0),
    ]
    eng = PromQLEngine(spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, le STRING, ts LONG, "
        "value DOUBLE"
    ))
    # mids: le1 -> 0.5 (2 obs), (1,2] -> 1.5 (3 obs), +Inf -> 2 (1 obs)
    # mean = 7.5/6 = 1.25
    # var = (2*0.75^2 + 3*0.25^2 + 1*0.75^2)/6 = 1.875/6 = 0.3125
    out = eng.query_range("histogram_stdvar(m)", t, t, 60_000).collect()
    assert len(out) == 1 and out[0]["job"] == "a"
    assert abs(out[0]["value"] - 0.3125) < 1e-12
    out = eng.query_range("histogram_stddev(m)", t, t, 60_000).collect()
    assert abs(out[0]["value"] - 0.3125 ** 0.5) < 1e-12


def test_histogram_stddev_requires_plain_selector(spark):
    eng = PromQLEngine(_stub_samples(spark))
    with pytest.raises(ValueError, match="plain instant selector"):
        eng.query_range(
            "histogram_stddev(sum(http_requests_total))", 0, 0, 60_000
        )


def _series_frac(labels: dict) -> float:
    """Python twin of the engine's limitk/limit_ratio series hash."""
    import hashlib

    canon = "\x1f".join(
        f"{c}\x1e{v}" for c, v in sorted(labels.items()) if v
    )
    top = int.from_bytes(
        hashlib.md5(canon.encode()).digest()[:8], "big"
    )
    return top / 2**64


def test_limitk_deterministic_selection(spark):
    """limitk keeps the k smallest-hash series at every step —
    selection matches a Python md5 recomputation and is identical
    across steps (consistent sampling)."""
    engine = PromQLEngine(_stub_samples(spark))
    out = engine.query_range(
        "limitk(2, http_requests_total)", 60_000, 120_000, 60_000
    )
    rows = out.collect()
    series = [
        {"job": "api-server", "instance": "0"},
        {"job": "api-server", "instance": "1"},
        {"job": "kubelet", "instance": "0"},
    ]
    want = {
        (s["job"], s["instance"])
        for s in sorted(series, key=_series_frac)[:2]
    }
    for t in (60_000, 120_000):
        got = {
            (r["job"], r["instance"]) for r in rows if r["t"] == t
        }
        assert got == want, t


def test_limit_ratio_partitions_exactly(spark):
    """limit_ratio(r) + limit_ratio(r-1) must partition the series set
    (upstream's complement contract), at any r."""
    engine = PromQLEngine(_stub_samples(spark))

    def keys(q):
        return {
            (r["job"], r["instance"])
            for r in engine.query_range(q, 60_000, 60_000, 60_000).collect()
        }

    all_series = keys("http_requests_total")
    assert len(all_series) == 3
    for r in (0.3, 0.5, 0.9):
        a = keys(f"limitk(99, limit_ratio({r}, http_requests_total))")
        b = keys(f"limit_ratio(-{1 - r:.10g}, http_requests_total)")
        assert a | b == all_series
        assert not a & b
    # the kept fraction matches the Python hash twin
    series = [
        {"job": "api-server", "instance": "0"},
        {"job": "api-server", "instance": "1"},
        {"job": "kubelet", "instance": "0"},
    ]
    want = {
        (s["job"], s["instance"])
        for s in series
        if _series_frac(s) < 0.5
    }
    assert keys("limit_ratio(0.5, http_requests_total)") == want


def test_limit_ratio_bounds(spark):
    engine = PromQLEngine(_stub_samples(spark))
    with pytest.raises(ValueError, match=r"in \[-1, 1\]"):
        engine.query_range(
            "limit_ratio(1.5, http_requests_total)", 0, 0, 60_000
        )
    assert (
        engine.query_range(
            "limit_ratio(1, http_requests_total)", 60_000, 60_000, 60_000
        ).count()
        == 3
    )


def test_utf8_quoted_names(spark):
    """Prometheus 3.x UTF-8 name syntax: bare-brace selectors
    (`{__name__="x"}`), quoted metric names (`{"my.metric"}` — any
    chars legal in the VALUE, UTF-8 names are almost always metric
    names), and the quoted LABEL-name matcher form.  Label COLUMNS
    themselves stay Spark-identifier-safe — every ingestor normalizes
    attribute keys Prometheus-style (dots -> underscores)."""
    rows = [
        ("app.events", "click", "1", 60_000, 2.0),
        ("app.events", "view", "2", 60_000, 3.0),
        ("other", "click", "1", 60_000, 9.0),
    ]
    df = spark.createDataFrame(
        rows,
        "`__name__` STRING, event_type STRING, shard STRING, "
        "ts LONG, value DOUBLE",
    )
    eng = PromQLEngine(df)
    t = 60_000
    # bare-brace form
    out = eng.query_range('{__name__="other"}', t, t, 60_000).collect()
    assert len(out) == 1 and out[0]["value"] == 9.0
    # quoted metric name (dots are 2.x-invalid ident chars)
    out = eng.query_range('{"app.events"}', t, t, 60_000).collect()
    assert sorted(r["value"] for r in out) == [2.0, 3.0]
    # quoted label NAME in a matcher
    out = eng.query_range(
        '{"app.events", "event_type"="view"}', t, t, 60_000
    ).collect()
    assert len(out) == 1 and out[0]["value"] == 3.0
    # aggregation over the quoted selector
    out = eng.query_range(
        'sum({"app.events"})', t, t, 60_000
    ).collect()
    assert len(out) == 1 and out[0]["value"] == 5.0


def test_utf8_name_errors(spark):
    with pytest.raises(ValueError, match="set twice"):
        parse_promql('app_events{"other"}')
    with pytest.raises(ValueError, match="at least one matcher"):
        parse_promql("{}")


def _messy_samples(spark):
    """Uneven sampling, NaN values, an absent-label series — the shapes
    that could expose a difference between the fused and per-series
    aggregation paths."""
    rows = []
    vals = [3.0, float("nan"), 1.5, 7.25, -2.0, float("nan"), 0.0, 9.5]
    for i, (job, inst) in enumerate(
        [("api", "0"), ("api", "1"), ("kube", "0")]
    ):
        for k, ts in enumerate(range(0, 300_001, 20_000 + 7_000 * i)):
            rows.append(("m", job, inst, ts, vals[(i + k) % len(vals)]))
    rows.append(("m", "api", None, 111_000, 4.0))  # absent instance label
    rows.append(("decoy", "api", "0", 150_000, 99.0))
    return spark.createDataFrame(
        rows,
        "`__name__` STRING, job STRING, instance STRING, ts LONG, value DOUBLE",
    )


def test_agg_by_label_no_series_carries(spark):
    """`sum by (value) (count_over_time(...))`: no series carries a
    `value` label, so the aggregation must not group by the frame's own
    `value` column (the raw samples).  An absent `by` label groups as
    absent: one group per step, the same answer as the ungrouped
    aggregation."""
    samples = _messy_samples(spark)

    def run(q):
        df = PromQLEngine(samples).query_range(q, 0, 300_000, 60_000)
        key = lambda r: tuple(  # noqa: E731
            "NaN" if isinstance(x, float) and x != x else x for x in r
        )
        return df.columns, sorted(map(key, df.collect()))

    want = run("sum(count_over_time(m[1m]))")
    for q, ungrouped in [
        ("sum by (value) (count_over_time(m[1m]))", want),
        ("sum by (nolabel) (count_over_time(m[1m]))", want),
        ("max by (ts) (max_over_time(m[1m]))",
         run("max(max_over_time(m[1m]))")),
    ]:
        assert run(q) == ungrouped, q
    assert want[0] == ["t", "value"] and len(want[1]) == 6


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),  # series
            st.integers(0, 6).map(lambda k: k * 20_000),  # few ts: many ties
            st.booleans(),  # is_stale
        ),
        min_size=1,
        max_size=40,
    )
)
def test_stale_instant_vector_max_by_picks_one_row(spark, rows):
    """The stale instant vector takes `max_by(value, ts)` and
    `max_by(is_stale, ts)` as two aggregates of one pass and assumes a
    tied timestamp resolves to the SAME row in both.  Pinned on a
    source with duplicated (series, ts) rows, spread over partitions:
    every value is unique to its row (even for live rows, odd for stale
    ones), so an output value must come from a live row holding the
    step's latest timestamp, and a step without output must have a stale
    row at that timestamp."""
    data = [
        ("m", job, ts, float(2 * i + stale), stale)
        for i, (job, ts, stale) in enumerate(rows)
    ]
    samples = spark.createDataFrame(
        data,
        "`__name__` STRING, job STRING, ts LONG, value DOUBLE, "
        "is_stale BOOLEAN",
    ).repartition(3)
    # the two aggregates exactly as the engine writes them, plus a row id
    # picked the same way: both must agree with the id's row
    picked = (
        samples.withColumn("rid", (F.col("value") / 2).cast("long"))
        .groupBy("job")
        .agg(
            F.max_by("value", "ts").alias("v"),
            F.max_by("is_stale", "ts").alias("s"),
            F.max_by("rid", "ts").alias("rid"),
        )
        .collect()
    )
    for r in picked:
        _, _, ts, value, stale = data[r["rid"]]
        assert (r["v"], r["s"]) == (value, stale)

    lookback = 300_000
    got = {
        (r["job"], r["t"]): r["value"]
        for r in PromQLEngine(samples)
        .query_range("m", 0, 200_000, 20_000, lookback_ms=lookback)
        .collect()
    }
    for t in range(0, 200_001, 20_000):
        for job in ("a", "b"):
            window = [d for d in data
                      if d[1] == job and t - lookback < d[2] <= t]
            if not window:
                assert (job, t) not in got
                continue
            last = max(d[2] for d in window)
            tied = [d for d in window if d[2] == last]
            if (job, t) in got:
                v = got[(job, t)]
                assert int(v) % 2 == 0, (job, t, v)  # a live row's value
                assert any(d[3] == v and not d[4] for d in tied)
            else:
                assert any(d[4] for d in tied)

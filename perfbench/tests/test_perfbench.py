"""Tests of the benchmark's own code: the percentile rule, metric-string
parsing, span self time, input determinism, and the closed-form oracle
against the engine on a tiny store.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os

import pytest

import inputs
import summary
import tracing


# -- percentile rule --------------------------------------------------------


@pytest.mark.parametrize(
    "n, pct",
    [(5, 100), (10, 100), (11, 9), (20, 50), (40, 75), (100, 90), (1000, 99)],
)
def test_tail_percentile_leaves_ten_beyond(n, pct):
    vals = [float(i) for i in range(1, n + 1)]
    got_pct, value = summary.tail_percentile(vals)
    assert got_pct == pct
    if pct < 100:
        assert sum(1 for v in vals if v > value) >= summary.MIN_BEYOND
        # the next percentile up would leave fewer than ten beyond
        nxt = summary.nearest_rank(vals, pct + 1)
        assert sum(1 for v in vals if v > nxt) < summary.MIN_BEYOND
    else:
        assert value == max(vals)


def test_tail_percentile_ignores_input_order():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0] * 6
    assert summary.tail_percentile(vals) == summary.tail_percentile(sorted(vals))


def test_spread_is_iqr_over_median():
    assert summary.spread([1.0, 1.0, 1.0, 1.0]) == 0.0
    assert summary.spread([8.0, 9.0, 10.0, 11.0, 12.0]) == pytest.approx(0.3)


@pytest.mark.parametrize(
    "text, value",
    [
        ("1,234", 1234.0),
        ("25.5 KiB", 25.5 * 1024),
        ("0.0 B", 0.0),
        ("340 ms", 0.34),
        ("1.5 m", 90.0),
        ("total (min, med, max (stageId: taskId))\n1.4 s (257 ms, 395 ms, 434 ms (stage 9.0: task 9))", 1.4),
        ("total (min, med, max (stageId: taskId))\n361.0 KiB (177.2 KiB, 183.7 KiB)", 361.0 * 1024),
    ],
)
def test_parse_metric(text, value):
    assert summary.parse_metric(text) == pytest.approx(value)


# -- spans -------------------------------------------------------------------


def test_self_time_subtracts_covered_child_intervals():
    root = tracing.Span(1, "client.op", 1, None, 0.0, 10.0)
    a = tracing.Span(2, "plans.plan", 1, 1, 1.0, 4.0)
    b = tracing.Span(3, "plans.exec", 1, 1, 3.0, 6.0)  # overlaps a
    c = tracing.Span(4, "plans.exec", 1, 1, 8.0, 9.0)
    got = tracing.self_times([root, a, b, c])
    assert got["client.op"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert got["plans.plan"] == pytest.approx(3.0)
    assert got["plans.exec"] == pytest.approx(4.0)


def test_tracer_nests_spans_per_thread_and_shares_op_id():
    tr = tracing.Tracer()
    root = tr.begin("client.op")
    child = tr.begin("plans.plan")
    tr.finish(child)
    tr.finish(root)
    other = tr.begin("api.handle", op=root.op, parent=root.id)
    tr.finish(other)
    assert child.parent == root.id and child.op == root.op == root.id
    assert other.op == root.op
    assert len(tr.spans) == 3


def test_layer_metrics_match_benchmark_json():
    with open(os.path.join(os.path.dirname(inputs.__file__), "..", "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert declared == tracing.LAYER_METRICS


# -- generator determinism ----------------------------------------------------


@pytest.mark.parametrize("workload", ["adhoc", "ingest"])
def test_inputs_reproduce_pinned_digest(workload):
    """The digests were taken in another process: a generator that
    depends on hash order, process state or a library's drift fails."""
    assert inputs.fingerprint(workload, inputs.GOLDEN_SEED) == inputs.GOLDEN[workload]
    assert inputs.fingerprint(workload, inputs.GOLDEN_SEED + 1) != inputs.GOLDEN[workload]


def test_op_count_follows_seconds_only():
    assert [inputs.units(s) for s in (1, 20, 29, 31, 60)] == [1, 1, 1, 2, 3]
    _spec, warm, timed = inputs.adhoc_run(5, 20)
    assert len(warm) == inputs.ADHOC_WARM and len(timed) == inputs.ADHOC_CYCLE
    # a whole cycle: every kind and window length in the same shares
    assert sorted(r.kind for r in timed) == sorted(
        r.kind for r in inputs.adhoc_run(6, 20)[2])


def test_chunk_rows_and_bodies_repeat_exactly():
    spec = tiny_spec(3)
    assert inputs.chunk_table(spec).equals(inputs.chunk_table(tiny_spec(3)))
    assert tiny_ingest(3, 5, 2).round_bodies(2) == tiny_ingest(3, 5, 2).round_bodies(2)


def test_adhoc_requests_touch_at_most_one_percent_of_series():
    spec = inputs.adhoc_spec(1)
    n_series = len(spec.series())
    for req in inputs.adhoc_requests(spec, 1, 64):
        chunks_per_series = spec.n_chunks()
        assert req.needed_rows / chunks_per_series <= 0.01 * n_series


def test_ingest_expectations_are_consistent():
    ing = tiny_ingest(5, per_round=4, bodies=3)
    per_series = ing.expected_series(3)
    assert sum(n for n, _ in per_series.values()) == 3 * ing.round_samples()
    assert sum(s for _, s in per_series.values()) == sum(
        ing.expected_round(r)[1] for r in range(3))
    # the bodies carry exactly the samples the expectations count
    pushed = [pt for body in ing.round_series(1) for _lab, pts in body for pt in pts]
    assert len(pushed) == ing.round_samples()
    assert sum(v for _t, v in pushed) == ing.expected_round(1)[1]


# -- the oracle against the engine, on a tiny store ----------------------------


def tiny_spec(seed: int) -> inputs.StoreSpec:
    return inputs.StoreSpec.make(
        seed, (inputs.COUNTER, inputs.GAUGE), 2, 3, 60_000, 30, 2 * 3_600_000)


def tiny_ingest(seed: int, per_round: int, bodies: int) -> inputs.IngestSpec:
    store = inputs.StoreSpec.make(
        seed, (inputs.INGEST_COUNTER,), 2, 3, 15_000, 4, 2 * 3_600_000)
    return inputs.IngestSpec(store, per_round, bodies)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from tsdb_parquet_spark.session import get_spark

    spark = get_spark(app_name="perfbench-tests", cpus=2, shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


def test_oracle_matches_engine_on_tiny_store(spark, tmp_path):
    import serve
    from tsdb_parquet_spark.api import PromApiServer
    from tsdb_parquet_spark.plans.promql import PromQLEngine
    from tsdb_parquet_spark.querier import ChunkQuerier

    spec = tiny_spec(11)
    store = serve.build_store(spark, spec, str(tmp_path))
    samples = ChunkQuerier.from_store(spark, store["path"]).select_samples(
        labels=inputs.LABELS)
    assert samples.count() == store["samples"]
    # every request kind, through the engine of both the ad-hoc server
    # and the cache layer's shared-scan one
    reqs = inputs.adhoc_requests(spec, 11, len(inputs.ADHOC_KINDS))
    for shared in (True, False):
        server = PromApiServer(PromQLEngine(samples, shared_scan=shared))
        url = server.start()
        try:
            for req in reqs:
                status, body = serve.send(url, req)
                assert serve.check(serve.Op(0, req, 0.0, 0.0, status, body)), (
                    req.kind, body[:300])
            # a wrong expectation is caught
            bad = inputs.Request("labels", "/api/v1/labels", (), ["job"])
            status, body = serve.send(url, bad)
            assert not serve.check(serve.Op(0, bad, 0.0, 0.0, status, body))
        finally:
            server.stop()


def test_ingest_round_trip_reads_back_exactly(spark, tmp_path):
    import ingest
    from tsdb_parquet_spark.sources.remote_write_server import RemoteWriteServer

    spec = tiny_ingest(4, per_round=20, bodies=2)
    with RemoteWriteServer(str(tmp_path / "spool")) as url:
        pipe = ingest.Pipeline(spark, spec, str(tmp_path), url)
        rounds = [pipe.round(finalize=r == 1) for r in range(3)]
        pipe.finalize()
    assert all(r.posts_ok for r in rounds)
    per_round, per_series = ingest.read_back(spark, pipe)
    assert per_round == {r: spec.expected_round(r) for r in range(3)}
    assert per_series == spec.expected_series(3)

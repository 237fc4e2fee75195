"""Receiver spool streaming ingestion (streaming/receiver.py): a spool
of remote-write POST bodies / scrape-text captures drains into a sorted
chunk store losslessly, exactly-once, across micro-batches."""

import math
import os
import shutil

from pyspark.sql import functions as F

from tsdb_parquet_spark.chunks import sample_structs, with_sample_arrays
from tsdb_parquet_spark.querier import ChunkQuerier
from tsdb_parquet_spark.remote_write import encode_write_request, frame_payload
from tsdb_parquet_spark.scrape import format_exposition
from tsdb_parquet_spark.streaming.receiver import (
    remote_write_spool_ingestor,
    scrape_spool_ingestor,
)

WORK = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".work",
    "receiver_tests",
)

LABELS = ["__name__", "job", "shard"]
HOUR = 3_600_000


def _series(n_jobs=2, n_shards=2, n_samples=50):
    out = []
    v = 0.0
    for j in range(n_jobs):
        for s in range(n_shards):
            samples = []
            for i in range(n_samples):
                v += 1.25
                samples.append((1_700_000_000_000 + i * HOUR, v))
            out.append(
                (
                    {"__name__": "rw_metric", "job": f"j{j}",
                     "shard": str(s)},
                    samples,
                )
            )
    return out


def _expected(series):
    n = sum(len(s) for _, s in series)
    total = sum(v for _, s in series for _, v in s)
    return n, total


def _store_totals(spark, compact):
    q = ChunkQuerier.from_parquet(spark, compact)
    row = (
        q.chunks.transform(with_sample_arrays).select(
            F.explode(sample_structs()).alias("s")
        )
        .agg(F.count("*").alias("n"), F.sum("s.value").alias("total"))
        .collect()[0]
    )
    return row["n"], row["total"]


def test_remote_write_spool_to_store(spark):
    spool = os.path.join(WORK, "rw_spool")
    root = os.path.join(WORK, "rw_store")
    for p in (spool, root):
        shutil.rmtree(p, ignore_errors=True)
    os.makedirs(spool)
    series = _series()
    # one POST body per series, alternating protocol versions — exactly
    # what a mixed sender fleet delivers
    for i, s in enumerate(series):
        body = frame_payload(encode_write_request([s], version=1 + i % 2))
        with open(os.path.join(spool, f"req-{i:04d}.bin"), "wb") as fh:
            fh.write(body)
    ingestor, stream = remote_write_spool_ingestor(
        spark, spool, root, LABELS, chunk_span_ms=24 * HOUR
    )
    ingestor.ingest(stream)
    compact = ingestor.finalize()
    n, total = _store_totals(spark, compact)
    want_n, want_total = _expected(series)
    assert n == want_n
    assert math.isclose(total, want_total, rel_tol=1e-9)
    # a second drain over the same spool is a no-op for state: the
    # checkpoint remembers processed files
    ingestor2, stream2 = remote_write_spool_ingestor(
        spark, spool, root, LABELS, chunk_span_ms=24 * HOUR
    )
    ingestor2.ingest(stream2)
    compact = ingestor2.finalize()
    n2, total2 = _store_totals(spark, compact)
    assert (n2, round(total2, 6)) == (n, round(total, 6))


def test_remote_write_spool_incremental_second_batch(spark):
    spool = os.path.join(WORK, "rw_spool_inc")
    root = os.path.join(WORK, "rw_store_inc")
    for p in (spool, root):
        shutil.rmtree(p, ignore_errors=True)
    os.makedirs(spool)
    series = _series()
    half = len(series) // 2
    for i, s in enumerate(series[:half]):
        with open(os.path.join(spool, f"a-{i}.bin"), "wb") as fh:
            fh.write(frame_payload(encode_write_request([s])))
    ingestor, stream = remote_write_spool_ingestor(
        spark, spool, root, LABELS, chunk_span_ms=24 * HOUR
    )
    ingestor.ingest(stream)
    # new requests arrive; a later drain picks up ONLY the new files
    for i, s in enumerate(series[half:]):
        with open(os.path.join(spool, f"b-{i}.bin"), "wb") as fh:
            fh.write(frame_payload(encode_write_request([s])))
    ingestor2, stream2 = remote_write_spool_ingestor(
        spark, spool, root, LABELS, chunk_span_ms=24 * HOUR
    )
    ingestor2.ingest(stream2)
    n, total = _store_totals(spark, ingestor2.finalize())
    want_n, want_total = _expected(series)
    assert n == want_n and math.isclose(total, want_total, rel_tol=1e-9)


def test_scrape_spool_to_store(spark):
    spool = os.path.join(WORK, "scrape_spool")
    root = os.path.join(WORK, "scrape_store")
    for p in (spool, root):
        shutil.rmtree(p, ignore_errors=True)
    os.makedirs(spool)
    series = _series(n_samples=20)
    # one capture file per target; half the lines carry no timestamp and
    # must take the scrape time
    scrape_ts = 1_700_000_000_000 + 999 * HOUR
    kept = []
    for i, (labels, samples) in enumerate(series):
        entries = []
        for k, (ts, v) in enumerate(samples):
            entries.append((labels, v, ts if k % 2 == 0 else None))
            kept.append((v, ts if k % 2 == 0 else scrape_ts))
        text = format_exposition(entries, [("rw_metric", "gauge", "doc")])
        with open(os.path.join(spool, f"scrape-{i:04d}.txt"), "w") as fh:
            fh.write(text)
    ingestor, stream = scrape_spool_ingestor(
        spark, spool, root, LABELS, chunk_span_ms=24 * HOUR,
        scrape_ts_ms=scrape_ts,
    )
    ingestor.ingest(stream)
    n, total = _store_totals(spark, ingestor.finalize())
    assert n == len(kept)
    assert math.isclose(total, sum(v for v, _ in kept), rel_tol=1e-9)


def test_cli_ingest_remote_write_spool(spark):
    """`cli ingest --format remote-write` end-to-end as a subprocess,
    twice: the second run must only pick up the new spool file."""
    import subprocess
    import sys

    spool = os.path.join(WORK, "cli_spool")
    root = os.path.join(WORK, "cli_store")
    for p in (spool, root):
        shutil.rmtree(p, ignore_errors=True)
    os.makedirs(spool)
    series = _series(n_jobs=1, n_shards=2, n_samples=10)
    with open(os.path.join(spool, "a.bin"), "wb") as fh:
        fh.write(frame_payload(encode_write_request(series[:1])))
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    cwd = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    run = lambda: subprocess.run(  # noqa: E731
        [sys.executable, "-m", "tsdb_parquet_spark.cli", "ingest",
         "--spool", spool, "--store", root, "--format", "remote-write",
         "--labels", ",".join(LABELS), "--finalize"],
        capture_output=True, text=True, timeout=300, env=env, cwd=cwd,
    )
    proc = run()
    assert proc.returncode == 0, proc.stderr[-2000:]
    with open(os.path.join(spool, "b.bin"), "wb") as fh:
        fh.write(frame_payload(encode_write_request(series[1:], version=2)))
    proc = run()
    assert proc.returncode == 0, proc.stderr[-2000:]
    n, total = _store_totals(spark, os.path.join(root, "compact"))
    want_n, want_total = _expected(series)
    assert n == want_n and math.isclose(total, want_total, rel_tol=1e-9)


def test_http_remote_write_end_to_end(spark):
    """The FULL push path over a real socket: an http.client sender
    POSTs snappy-framed protobuf (v1 and v2, with the spec headers) to
    the loopback receiver, bodies spool, Structured Streaming drains
    the spool into a sorted store — totals exact.  Bad bodies get 400
    and never poison the spool."""
    import http.client
    from urllib.parse import urlparse

    from tsdb_parquet_spark.sources.remote_write_server import (
        RemoteWriteServer,
    )

    spool = os.path.join(WORK, "http_spool")
    root = os.path.join(WORK, "http_store")
    for p in (spool, root):
        shutil.rmtree(p, ignore_errors=True)
    series = _series(n_jobs=1, n_shards=2, n_samples=20)
    with RemoteWriteServer(spool) as url:
        u = urlparse(url)
        conn = http.client.HTTPConnection(u.hostname, u.port)
        for i, s in enumerate(series):
            version = 1 + i % 2
            body = frame_payload(encode_write_request([s], version=version))
            conn.request(
                "POST", "/api/v1/write", body=body,
                headers={
                    "Content-Encoding": "snappy",
                    "Content-Type": "application/x-protobuf",
                    "X-Prometheus-Remote-Write-Version":
                        "0.1.0" if version == 1 else "2.0.0",
                },
            )
            resp = conn.getresponse()
            assert resp.status == 204
            resp.read()
        # an undecodable body is rejected, not spooled
        conn.request("POST", "/api/v1/write", body=b"\xff\xff\xff",
                     headers={"Content-Encoding": "snappy"})
        resp = conn.getresponse()
        assert resp.status == 400
        resp.read()
        # wrong path
        conn.request("POST", "/api/v1/other", body=b"")
        resp = conn.getresponse()
        assert resp.status == 404
        resp.read()
        conn.close()
    names = sorted(os.listdir(spool))
    assert len(names) == len(series)
    assert names[0].endswith("-v0.bin") and names[1].endswith("-v2.bin")
    ingestor, stream = remote_write_spool_ingestor(
        spark, spool, root, LABELS, chunk_span_ms=24 * HOUR
    )
    ingestor.ingest(stream)
    n, total = _store_totals(spark, ingestor.finalize())
    want_n, want_total = _expected(series)
    assert n == want_n and math.isclose(total, want_total, rel_tol=1e-9)


def test_scrape_targets_once_pull_loop(spark, tmp_path):
    """The pull half: a loopback /metrics endpoint, scrape_targets_once
    weaving target labels in, the standard spool drain, PromQL over the
    store."""
    import json
    import threading
    import urllib.request
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from tsdb_parquet_spark.plans.promql import PromQLEngine
    from tsdb_parquet_spark.querier import ChunkQuerier
    from tsdb_parquet_spark.scrape import scrape_targets_once
    from tsdb_parquet_spark.streaming.receiver import scrape_spool_ingestor

    body = (
        "# TYPE http_requests_total counter\n"
        'http_requests_total{code="200"} 120\n'
        'http_requests_total{code="500"} 3\n'
    )

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            data = body.encode()
            self.send_response(200)
            self.send_header("Content-Type", "text/plain; version=0.0.4")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

    httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    url = f"http://127.0.0.1:{httpd.server_address[1]}/metrics"
    spool = tmp_path / "spool"
    spool.mkdir()
    try:
        ts = 1_700_000_000_000
        reports = scrape_targets_once(
            [
                (url, {"job": "api", "instance": "i1"}),
                ("http://127.0.0.1:1/metrics", {"job": "down"}),
            ],
            str(spool),
            scrape_ts_ms=ts,
        )
        assert reports[0]["ok"] and reports[0]["samples"] == 2
        assert not reports[1]["ok"]  # down target reported, not spooled
        assert len(list(spool.glob("scrape-*.txt"))) == 1

        labels = ["__name__", "code", "job", "instance"]
        ingestor, stream = scrape_spool_ingestor(
            spark, str(spool), str(tmp_path / "store"), labels,
        )
        ingestor.ingest(stream)
        q = ChunkQuerier.from_store(spark, str(tmp_path / "store"))
        eng = PromQLEngine(q.select_samples(labels=labels))
        out = eng.query_range(
            'http_requests_total{job="api"}', ts, ts, 60_000
        ).collect()
        got = {(r["code"], r["instance"]): r["value"] for r in out}
        assert got == {("200", "i1"): 120.0, ("500", "i1"): 3.0}
    finally:
        httpd.shutdown()
        httpd.server_close()


def test_scrape_spool_with_relabel(spark):
    """metric_relabel_configs at the drain: a drop rule prunes rows and
    a replace rule routes a label, all before the store write; the
    ingestor's declared schema stays fixed (temp labels vanish at the
    projection)."""
    from tsdb_parquet_spark.operators.relabel import parse_relabel_configs

    spool = os.path.join(WORK, "relabel_spool")
    root = os.path.join(WORK, "relabel_store")
    for p in (spool, root):
        shutil.rmtree(p, ignore_errors=True)
    os.makedirs(spool)
    series = _series(n_samples=10)
    for i, (labels, samples) in enumerate(series):
        entries = [(labels, v, ts) for ts, v in samples]
        with open(os.path.join(spool, f"scrape-{i:04d}.txt"), "w") as fh:
            fh.write(format_exposition(entries))
    relabel = parse_relabel_configs([
        # drop shard 1 entirely
        {"action": "drop", "source_labels": ["shard"], "regex": "1"},
        # rewrite job j0/j1 -> tier-0/tier-1 in place
        {"source_labels": ["job"], "regex": "j(\\d+)",
         "target_label": "job", "replacement": "tier-$1"},
    ])
    ingestor, stream = scrape_spool_ingestor(
        spark, spool, root, LABELS, chunk_span_ms=24 * HOUR,
        relabel=relabel,
    )
    ingestor.ingest(stream)
    compact = ingestor.finalize()
    q = ChunkQuerier.from_parquet(spark, compact)
    jobs = {r["job"] for r in q.chunks.select("job").distinct().collect()}
    shards = {
        r["shard"] for r in q.chunks.select("shard").distinct().collect()
    }
    assert jobs == {"tier-0", "tier-1"}
    assert shards == {"0"}
    want = sum(
        len(s) for labels, s in series if labels["shard"] == "0"
    )
    n, _ = _store_totals(spark, compact)
    assert n == want

"""The ``ingest`` workload: remote-write push into the chunk store.

One sender POSTs snappy-framed remote-write bodies to a loopback
``sources.remote_write_server.RemoteWriteServer``; the op then drains the
spool with ``streaming.receiver.remote_write_spool_ingestor``'s
``ingest(stream)`` and, every ``FINALIZE_EVERY`` rounds, compacts with
``finalize()`` — the ``cli ingest --finalize`` loop.  An op is one round,
from the first POST to the return of the drain (and of the compaction,
on compaction rounds).  Bodies are encoded before the op's clock starts.
A run's loop is a fixed number of rounds (``inputs.INGEST_ROUNDS`` per
unit of ``--seconds``).  After the loop a last ``finalize()`` runs and
the whole store is read back: every round's sample count and value sum,
and every series', must match exactly (sample values are integers).
"""

from __future__ import annotations

import os
import time
import urllib.error
import urllib.request
from dataclasses import dataclass

import inputs
import tracing
from serve import dir_bytes, p50

#: compaction on a loop's rounds 1, 5, 9, ...: one per four rounds
FINALIZE_EVERY = 4


@dataclass
class Round:
    index: int
    start: float  # epoch s
    latency: float
    posts_ok: bool
    finalized: bool


def post(url: str, body: bytes) -> bool:
    req = urllib.request.Request(
        url + "/api/v1/write", data=body, method="POST",
        headers={"Content-Encoding": "snappy",
                 "Content-Type": "application/x-protobuf",
                 "X-Prometheus-Remote-Write-Version": "0.1.0"},
    )
    try:
        with urllib.request.urlopen(req, timeout=60) as resp:
            return resp.status == 204
    except (urllib.error.URLError, OSError):
        return False


class Pipeline:
    """Sender + receiver + ingestor, with the calls the traced run times
    held as attributes so wrapping them leaves the loop unchanged."""

    def __init__(self, spark, spec: inputs.IngestSpec, work: str, url: str):
        from tsdb_parquet_spark.streaming.receiver import (
            remote_write_spool_ingestor,
        )

        self.spec, self.url = spec, url
        self.root = os.path.join(work, "store")
        self.ingestor, self.stream = remote_write_spool_ingestor(
            spark, os.path.join(work, "spool"), self.root, inputs.LABELS,
            chunk_span_ms=spec.store.chunk_ms,
        )
        self.post = post
        self.drain = lambda: self.ingestor.ingest(self.stream)
        self.finalize = self.ingestor.finalize
        self.next_round = 0
        self.tracer: tracing.Tracer | None = None

    def round(self, finalize: bool) -> Round:
        r = self.next_round
        self.next_round += 1
        bodies = self.spec.round_bodies(r)
        span = self.tracer.begin("ingest.round") if self.tracer else None
        wall, t0 = time.time(), time.perf_counter()
        ok = all([self.post(self.url, b) for b in bodies])
        self.drain()
        if finalize:
            self.finalize()
        latency = time.perf_counter() - t0
        if span:
            self.tracer.finish(span)
        return Round(r, wall, latency, ok, finalize)

    def loop(self, rounds: int) -> list[Round]:
        """``rounds`` rounds; the loop's rounds 1, 5, 9, ... also compact."""
        return [self.round(i % FINALIZE_EVERY == 1) for i in range(rounds)]

    def live_bytes(self) -> int:
        from tsdb_parquet_spark.sources.writer import live_store_dirs

        return sum(dir_bytes(d) for d in live_store_dirs(self.root))


def read_back(spark, pipe: Pipeline) -> tuple[dict, dict]:
    """Per-round and per-series (count, sum) of the store as it reads."""
    from pyspark.sql import functions as F

    from tsdb_parquet_spark.querier import ChunkQuerier

    spec = pipe.spec
    samples = ChunkQuerier.from_store(spark, pipe.root).select_samples(labels=inputs.LABELS)
    span = spec.per_round * spec.store.scrape_ms
    rnd = ((F.col("ts") - F.lit(spec.store.t0_ms)) / F.lit(span)).cast("long")
    per_round: dict = {}
    per_series: dict = {}
    rows = samples.groupBy(*inputs.LABELS, rnd.alias("rnd")).agg(
        F.count("*").alias("n"), F.sum("value").alias("s")).collect()
    for r in rows:
        for acc, key in ((per_round, r["rnd"]),
                         (per_series, (r["__name__"], r["instance"], r["job"]))):
            n, total = acc.get(key, (0, 0.0))
            acc[key] = (n + r["n"], total + r["s"])
    return per_round, per_series


def run(spark, seed: int, seconds: float, trace: bool, work: str) -> dict:
    from tsdb_parquet_spark.sources.remote_write_server import RemoteWriteServer

    spec = inputs.ingest_spec(seed)
    n = inputs.INGEST_ROUNDS * inputs.units(seconds)
    spool = os.path.join(work, "spool")
    t_warm = time.perf_counter()
    with RemoteWriteServer(spool) as url:
        pipe = Pipeline(spark, spec, work, url)
        # warm-up: one round and one compaction pay worker start and codegen
        warm = pipe.round(finalize=True)
        first_op_at = time.perf_counter()
        rounds = pipe.loop(n)
        loop_s = time.perf_counter() - first_op_at
        pipe.finalize()
        result = {"first_op_at": first_op_at, "phases": {"warm": first_op_at - t_warm},
                  "rounds": rounds, "extra_rounds": [], "loop_s": loop_s,
                  "throughput": n / loop_s, "warm_ok": warm.posts_ok,
                  "round_samples": spec.round_samples(),
                  # after the final compaction, over every sample ingested
                  "bytes_per_sample": pipe.live_bytes() / (pipe.next_round * spec.round_samples())}
        if trace:
            # traced rounds, then untraced ones: the overhead compares the
            # traced loop with the mean of the untraced loops on either side
            tracer = tracing.Tracer()
            before = written_dirs(pipe.root)
            untraced = pipe.post, pipe.drain, pipe.finalize
            pipe.post = tracer.wrap(pipe.post, "receiver.post")
            pipe.drain = tracer.wrap(pipe.drain, "streaming.ingest")
            pipe.finalize = tracer.wrap(pipe.finalize, "writer.finalize")
            pipe.tracer = tracer
            since = time.time()
            traced = pipe.loop(n)
            pipe.post, pipe.drain, pipe.finalize = untraced
            pipe.tracer = None
            layers = rollup(spark, tracer, pipe, traced, since, before)
            after = pipe.loop(n)
            layers["trace.overhead_s"] = p50(traced) - (p50(rounds) + p50(after)) / 2
            result.update(extra_rounds=traced + after, layers=layers, tracer=tracer)
            pipe.finalize()
    per_round, per_series = read_back(spark, pipe)
    wrong = {
        rd.index for rd in [warm] + rounds + result["extra_rounds"]
        if per_round.get(rd.index) != spec.expected_round(rd.index)
    }
    result.update(
        wrong_rounds=wrong,
        series_ok=per_series == spec.expected_series(pipe.next_round),
    )
    return result


def written_dirs(root: str) -> set[str]:
    return {d for d in os.listdir(root) if d.startswith(("part.", "compact."))}


def rollup(spark, tracer, pipe: Pipeline, rounds: list[Round], since: float, before: set) -> dict:
    executions = tracing.executions_since(spark, since)
    n = max(1, len(rounds))
    samples = n * pipe.spec.round_samples()
    finals = [s for s in tracer.spans if s.name == "writer.finalize"]
    drains = [s for s in tracer.spans if s.name == "streaming.ingest"]
    in_drain = [e for e in executions
                if any(d.start <= e.start <= d.end for d in drains)]
    new_dirs = [os.path.join(pipe.root, d) for d in written_dirs(pipe.root) - before]
    written = sum(dir_bytes(d) for d in new_dirs)
    files = sum(
        sum(1 for f in fs if f.endswith(".parquet"))
        for d in new_dirs for _b, _s, fs in os.walk(d)
    )
    all_written = sum(dir_bytes(os.path.join(pipe.root, d)) for d in written_dirs(pipe.root))
    live = pipe.live_bytes()
    py, mp = "ArrowEvalPython", "MapInPandas"

    def total(node, metric, desc_has=""):
        return sum(e.total(node, metric, desc_has) for e in executions)

    layers = {
        "receiver.post_s": sum(s.end - s.start for s in tracer.spans
                               if s.name == "receiver.post") / n,
        "streaming.batch_s": sum(s.end - s.start for s in drains) / n,
        "streaming.jobs_per_round": sum(len(e.jobs) for e in in_drain) / n,
        "remote_write.python_run_s": total(mp, "time to run Python workers") / n,
        "remote_write.samples_decoded": total(mp, "number of output rows") / n,
        "chunks.encoded_chunks": total(py, "number of output rows", "encode_chunk_udf") / n,
        "chunks.encode_python_run_s": total(py, "time to run Python workers", "encode_chunk_udf") / n,
        "writer.compact_s": sum(s.end - s.start for s in finals) / max(1, len(finals)),
        "writer.bytes_written": float(written),
        "writer.write_amp": all_written / live if live else 0.0,
        "writer.files_written": float(files),
        "writer.spill_bytes": total("Sort", "spill size"),
        "writer.shuffle_bytes_per_sample": total("Exchange", "shuffle bytes written") / samples,
        "spark.python_worker_start_s": total(py, "time to start Python workers")
        + total(mp, "time to start Python workers"),
    }
    for name, t in tracing.self_times(tracer.spans).items():
        layers[f"{name}.self_s"] = t / n
    return layers

"""The ``adhoc`` read workload.

One closed-loop client sends seeded selective requests to a loopback
``api.PromApiServer`` over a ``plans.promql.PromQLEngine``
(``shared_scan=False``) on a ``querier.ChunkQuerier`` store that setup
writes with ``sources.writer.write_sorted``: each request is sent when
the previous answer has arrived.  A run sends a fixed list of requests
(``inputs.adhoc_run``).  Answers are kept and checked after the timed
loop, so checking costs the loop nothing.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import urllib.error
import urllib.parse
import urllib.request
from dataclasses import dataclass

import inputs
import tracing

#: server-side entry points the traced run times (``api`` attribute, span)
_TRACED_API = (
    ("matrix_result", "plans.exec"),
    ("series_result", "plans.metadata"),
    ("labels_result", "plans.metadata"),
    ("label_values_result", "plans.metadata"),
)


@dataclass
class Op:
    id: int
    req: inputs.Request
    start: float  # epoch s
    latency: float
    status: int
    body: bytes


def build_store(spark, spec: inputs.StoreSpec, work: str) -> dict:
    """Write ``spec``'s chunk table as a sorted store.  The generator
    stages plain Parquet; the engine's writer lays out the store."""
    import pyarrow.parquet as pq

    from tsdb_parquet_spark.schema import sort_columns
    from tsdb_parquet_spark.sources.writer import WriterOptions, write_sorted

    staging = os.path.join(work, "staging")
    os.makedirs(staging)
    pq.write_table(inputs.chunk_table(spec), os.path.join(staging, "chunks.parquet"))
    store = os.path.join(work, "store")
    opts = WriterOptions(
        sort_columns=sort_columns(inputs.LABELS),
        bloom_columns=["instance", "job"],
        # without a cap the writer's size estimate can ask for thousands
        # of output files for a small store (NOTES.md, setup hazards)
        max_files=4,
    )
    write_sorted(spark.read.parquet(staging), store, opts)
    return {
        "path": store,
        "samples": spec.samples * len(spec.series()),
        "bytes": dir_bytes(store),
    }


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(base, f))
            for f in files if f.endswith(".parquet")
        )
    return total


def send(url: str, req: inputs.Request, op_id: int | None = None) -> tuple[int, bytes]:
    params = list(req.params)
    if op_id is not None:
        params.append(("pb_op", str(op_id)))
    full = url + req.path + ("?" + urllib.parse.urlencode(params) if params else "")
    try:
        with urllib.request.urlopen(full, timeout=150) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as err:
        return err.code, err.read()
    except OSError as err:
        return 0, str(err).encode()


def closed_loop(url: str, reqs: list[inputs.Request], tracer=None) -> list[Op]:
    """Send ``reqs`` one after another, each when the previous answer
    has arrived."""
    ops = []
    for req in reqs:
        span = tracer.begin("client.op") if tracer else None
        wall, t0 = time.time(), time.perf_counter()
        status, body = send(url, req, span.op if span else None)
        latency = time.perf_counter() - t0
        if span:
            tracer.finish(span)
        ops.append(Op(span.op if span else 0, req, wall, latency, status, body))
    return ops


def check(op: Op) -> bool:
    if op.status != 200:
        return False
    try:
        doc = json.loads(op.body)
    except ValueError:
        return False
    if doc.get("status") != "success":
        return False
    return inputs.matches(op.req.expect, inputs.normalize(op.req.path, doc["data"]))


def p50(ops: list) -> float:
    """Median latency of ops or ingest rounds."""
    return statistics.median(o.latency for o in ops)


def install_tracing(tracer: tracing.Tracer, server, engine):
    """Time the server's calls into the engine and return a function that
    removes the wrappers.  ``api`` looks these functions up at call time,
    so rebinding the module attributes is enough; the request dispatcher
    is wrapped to join the client's op."""
    from tsdb_parquet_spark import api

    originals = {attr: getattr(api, attr) for attr, _span in _TRACED_API}
    for attr, span in _TRACED_API:
        setattr(api, attr, tracer.wrap(originals[attr], span))
    engine.query_range = tracer.wrap(engine.query_range, "plans.plan")
    sc = engine.samples.sparkSession.sparkContext
    dispatch = server._handle

    def handle(path, params):
        op = int(params.get("pb_op", ["0"])[0])
        sp = tracer.begin("api.handle", op=op, parent=op)
        sc.setLocalProperty("spark.job.description", f"pb-op={op}")
        try:
            return dispatch(path, params)
        finally:
            sc.setLocalProperty("spark.job.description", None)
            tracer.finish(sp)

    server._handle = handle

    def remove() -> None:
        for attr, fn in originals.items():
            setattr(api, attr, fn)
        del engine.query_range
        server._handle = dispatch

    return remove


def _engine(spark, path: str, shared_scan: bool):
    from tsdb_parquet_spark.plans.promql import PromQLEngine
    from tsdb_parquet_spark.querier import ChunkQuerier

    return PromQLEngine(
        ChunkQuerier.from_store(spark, path).select_samples(labels=inputs.LABELS),
        shared_scan=shared_scan,
    )


def run(spark, seed: int, seconds: float, trace: bool, work: str) -> dict:
    from tsdb_parquet_spark.api import PromApiServer

    spec, warm, reqs = inputs.adhoc_run(seed, seconds)
    t_build = time.perf_counter()
    store = build_store(spark, spec, work)
    t_warm = time.perf_counter()
    engine = _engine(spark, store["path"], shared_scan=False)
    server = PromApiServer(engine)
    url = server.start()
    try:
        # every request kind twice: Python-worker start, codegen, and
        # the first of the JIT's speed-ups
        warm_ops = closed_loop(url, warm)
        first_op_at = time.perf_counter()
        ops = closed_loop(url, reqs)
        loop_s = time.perf_counter() - first_op_at
        result = {
            "first_op_at": first_op_at,
            "phases": {"store": t_warm - t_build, "warm": first_op_at - t_warm},
            "ops": ops,
            "extra_ops": [],
            "throughput": len(ops) / loop_s,
            # the samples the ops' selectors take in, per second of loop
            "samples_rate": sum(o.req.needed_samples for o in ops) / loop_s,
            "warm_ok": all(check(o) for o in warm_ops),
            "samples": store["samples"],
            "bytes": store["bytes"],
        }
        if trace:
            # the same requests again, traced, then untraced once more:
            # the overhead compares the traced loop with the mean of the
            # untraced loops on either side, which see the JIT before
            # and after it
            tracer = tracing.Tracer()
            since = time.time()
            remove = install_tracing(tracer, server, engine)
            traced = closed_loop(url, reqs, tracer)
            remove()
            layers = rollup(spark, tracer, traced, since)
            after = closed_loop(url, reqs)
            layers["trace.overhead_s"] = p50(traced) - (p50(ops) + p50(after)) / 2
            cache, cache_ops = cache_layer(spark, store["path"], warm)
            layers.update(cache)
            result.update(layers=layers, tracer=tracer,
                          extra_ops=traced + after + cache_ops)
        return result
    finally:
        server.stop()


def cache_layer(spark, path: str, reqs: list[inputs.Request]) -> tuple[dict, list[Op]]:
    """The cache layer, on the store served as ``cli serve`` serves it
    (``shared_scan=True``): the first of ``reqs`` materializes the pin
    (``cache.warm_s``, ``cache.pin_bytes`` right after it); the rest run
    over the pin, and a rebuild is an RDD of at least half the pin's size
    that appears while they do.  Returns the metrics and the ops."""
    from tsdb_parquet_spark.api import PromApiServer

    server = PromApiServer(_engine(spark, path, shared_scan=True))
    url = server.start()
    try:
        first = closed_loop(url, reqs[:1])
        pin_bytes, pin_ids = tracing.pinned_bytes(spark)
        rest = closed_loop(url, reqs[1:])
        _total, now_ids = tracing.pinned_bytes(spark)
    finally:
        server.stop()
    rebuilt = [i for i, b in now_ids.items() if b >= 0.5 * pin_bytes and i not in pin_ids]
    return {"cache.warm_s": first[0].latency, "cache.pin_bytes": pin_bytes,
            "cache.rebuilds": float(len(rebuilt))}, first + rest


def rollup(spark, tracer, ops: list[Op], since: float) -> dict:
    """Per-layer metrics of a traced loop, per op unless named otherwise."""
    executions = tracing.executions_since(spark, since)
    by_op = tracing.attribute(executions, [(o.id, o.start, o.start + o.latency) for o in ops])
    mine = [e for o in ops for e in by_op.get(o.id, [])]
    n = max(1, len(ops))
    queries = max(1, sum(1 for o in ops if o.req.path.startswith("/api/v1/query")))

    ids = {o.id for o in ops}

    def spans(*names):
        return sum(s.end - s.start for s in tracer.spans
                   if s.name in names and s.op in ids)

    def total(node, metric, desc_has=""):
        return sum(e.total(node, metric, desc_has) for e in mine)

    scan_rows = total("Scan parquet", "number of output rows")
    needed_rows = sum(o.req.needed_rows for o in ops)
    decoded = total("Generate", "number of output rows", "explode(pythonUDF")
    needed_samples = sum(o.req.needed_samples for o in ops)
    py, udf = "ArrowEvalPython", "decode_chunk_udf"
    layers = {
        "api.queue_s": (sum(o.latency for o in ops)
                        - spans("plans.plan", "plans.exec", "plans.metadata")) / n,
        "api.response_bytes": sum(len(o.body) for o in ops) / n,
        "plans.plan_s": spans("plans.plan") / queries,
        "plans.exec_s": spans("plans.exec", "plans.metadata") / n,
        "plans.jobs_per_query": sum(len(e.jobs) for e in mine) / n,
        "plans.tasks_per_query": sum(e.tasks for e in mine) / n,
        "plans.shuffle_bytes": total("Exchange", "shuffle bytes written") / n,
        "scan.files_read": total("Scan parquet", "number of files read") / n,
        "scan.chunk_rows_read": scan_rows / n,
        "scan.time_s": total("Scan parquet", "scan time") / n,
        "scan.read_per_needed": scan_rows / needed_rows if needed_rows else 0.0,
        "chunks.decoded_samples": decoded / n,
        "chunks.decode_waste": decoded / needed_samples if needed_samples else 0.0,
        "chunks.python_bytes": (total(py, "data sent to Python workers", udf)
                                + total(py, "data returned from Python workers", udf)) / n,
        "chunks.python_run_s": total(py, "time to run Python workers", udf) / n,
        "spark.python_worker_start_s": sum(
            e.total(py, "time to start Python workers") for e in executions),
    }
    for name, t in tracing.self_times([s for s in tracer.spans if s.op in ids]).items():
        layers[f"{name}.self_s"] = t / n
    return layers

"""Traced-run machinery: in-memory spans around calls into the engine's
public functions, and Spark SQL per-operator metrics from the status
store.  The workloads roll both up into per-layer metrics.

Nothing here is active in an untraced run: the wrappers are installed
only by ``--trace 1`` and the status store is read after the timed loop.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass

from summary import parse_metric


@dataclass
class Span:
    id: int
    name: str
    op: int  # the id of the op's root span; all spans of one op share it
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    """Collects spans in memory.  ``begin``/``finish`` nest per thread; a
    span begun with an explicit ``op`` and ``parent`` joins an op opened
    on another thread (the server side of a client request)."""

    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, op: int | None = None, parent: int | None = None) -> Span:
        stack = self._stack()
        if stack and parent is None:
            parent, op = stack[-1].id, stack[-1].op
        sid = next(self._ids)
        sp = Span(sid, name, op if op is not None else sid, parent, time.time())
        stack.append(sp)
        return sp

    def finish(self, sp: Span) -> None:
        sp.end = time.time()
        self._stack().remove(sp)
        with self._lock:
            self.spans.append(sp)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sp = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.finish(sp)

        return traced

    def dump(self, path: str, **extra) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, fh)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name: duration minus the union of the
    intervals its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
    return out


#: every per-layer metric a traced run reports, with its unit; a layer a
#: workload does not exercise reports 0
LAYER_METRICS = {
    "api.queue_s": "s",
    "api.response_bytes": "B",
    "plans.plan_s": "s",
    "plans.exec_s": "s",
    "plans.jobs_per_query": "count",
    "plans.tasks_per_query": "count",
    "plans.shuffle_bytes": "B",
    "cache.warm_s": "s",
    "cache.pin_bytes": "B",
    "cache.rebuilds": "count",
    "scan.files_read": "count",
    "scan.chunk_rows_read": "count",
    "scan.time_s": "s",
    "scan.read_per_needed": "ratio",
    "chunks.decoded_samples": "count",
    "chunks.decode_waste": "ratio",
    "chunks.python_bytes": "B",
    "chunks.python_run_s": "s",
    "chunks.encoded_chunks": "count",
    "chunks.encode_python_run_s": "s",
    "remote_write.python_run_s": "s",
    "remote_write.samples_decoded": "count",
    "receiver.post_s": "s",
    "streaming.batch_s": "s",
    "streaming.jobs_per_round": "count",
    "writer.compact_s": "s",
    "writer.bytes_written": "B",
    "writer.write_amp": "ratio",
    "writer.files_written": "count",
    "writer.spill_bytes": "B",
    "writer.shuffle_bytes_per_sample": "B",
    "spark.python_worker_start_s": "s",
    "client.op.self_s": "s",
    "api.handle.self_s": "s",
    "plans.plan.self_s": "s",
    "plans.exec.self_s": "s",
    "plans.metadata.self_s": "s",
    "ingest.round.self_s": "s",
    "receiver.post.self_s": "s",
    "streaming.ingest.self_s": "s",
    "writer.finalize.self_s": "s",
    "trace.overhead_s": "s",
}


# -- Spark status store ---------------------------------------------------

#: operator -> metrics the roll-up reads (other metrics are not fetched)
_WANTED = {
    "Scan parquet": ("number of files read", "number of output rows", "scan time"),
    "ArrowEvalPython": ("time to run Python workers", "time to start Python workers",
                        "data sent to Python workers",
                        "data returned from Python workers", "number of output rows"),
    "MapInPandas": ("time to run Python workers", "time to start Python workers",
                    "number of output rows"),
    "Generate": ("number of output rows",),
    "Exchange": ("shuffle bytes written",),
    "Sort": ("spill size",),
}


@dataclass
class Execution:
    id: int
    desc: str
    start: float  # submission, epoch seconds
    jobs: list[int]
    tasks: int
    #: (operator name, operator description, {metric: value})
    nodes: list[tuple[str, str, dict[str, float]]]

    def total(self, op: str, metric: str, desc_has: str = "") -> float:
        return sum(
            m.get(metric, 0.0)
            for name, desc, m in self.nodes
            if name.strip() == op and desc_has in desc
        )


def executions_since(spark, since: float, settle_s: float = 10.0) -> list[Execution]:
    """Every SQL execution submitted at or after ``since`` (epoch s), with
    the wanted per-operator metrics.  Waits up to ``settle_s`` for the
    listener bus to deliver completion events."""
    store = spark._jsparkSession.sharedState().statusStore()
    app = spark.sparkContext._jsc.sc().statusStore()
    deadline = time.time() + settle_s
    while True:
        items = store.executionsList()
        rows = [items.apply(i) for i in range(items.size())]
        rows = [r for r in rows if r.submissionTime() / 1000.0 >= since]
        if all(r.completionTime().isDefined() for r in rows) or time.time() > deadline:
            break
        time.sleep(0.2)
    out = []
    for r in rows:
        eid = r.executionId()
        values = store.executionMetrics(eid)
        nodes = []
        graph = store.planGraph(eid).allNodes()
        for i in range(graph.size()):
            node = graph.apply(i)
            wanted = _WANTED.get(node.name().strip())
            if not wanted:
                continue
            metrics = {}
            ms = node.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                if m.name() in wanted:
                    v = values.get(m.accumulatorId())
                    metrics[m.name()] = parse_metric(v.get()) if v.isDefined() else 0.0
            nodes.append((node.name(), node.desc(), metrics))
        jobs = [int(k) for k in _scala_keys(r.jobs())]
        tasks = 0
        for j in jobs:
            try:
                tasks += app.job(j).numTasks()
            except Exception:  # a job evicted from the store: count none
                pass
        out.append(Execution(eid, r.description(), r.submissionTime() / 1000.0,
                             jobs, tasks, nodes))
    return out


def _scala_keys(scala_map) -> list:
    it = scala_map.keys().iterator()
    keys = []
    while it.hasNext():
        keys.append(it.next())
    return keys


def pinned_bytes(spark) -> tuple[float, dict[int, float]]:
    """Bytes Spark's storage holds for cached or checkpointed RDDs: the
    total and the bytes per RDD id."""
    per = {
        info.id(): float(info.memSize() + info.diskSize())
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }
    return sum(per.values()), per


def attribute(executions: list[Execution], ops: list[tuple[int, float, float]]) -> dict[int, list[Execution]]:
    """Map executions to ops.  A ``pb-op=<id>`` description (set on the
    request thread) wins; otherwise the op whose interval holds the
    execution's submission.  Unplaced executions go to op 0."""
    out: dict[int, list[Execution]] = {}
    for ex in executions:
        op = 0
        if ex.desc.startswith("pb-op="):
            op = int(ex.desc.split("=", 1)[1])
        else:
            for oid, lo, hi in ops:
                if lo <= ex.start <= hi:
                    op = oid
                    break
        out.setdefault(op, []).append(ex)
    return out

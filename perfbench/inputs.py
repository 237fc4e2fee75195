"""Seeded inputs and closed-form expected answers for every workload.

Nothing here starts Spark.  A store is a grid of series (metric x job x
host) sampled at a fixed scrape interval:

* counters (``http_requests_total``, ``ingest_requests_total``) grow by a
  per-series integer slope every scrape, so ``rate`` over any window with
  two or more samples is exactly ``slope / scrape_seconds``;
* gauges (``memory_bytes``) hold one distinct integer per series, so
  ``max_over_time`` is a constant.

The seed picks slopes, gauge values and every query parameter; the same
seed always yields the same chunk rows, requests and remote-write bodies.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass, field

import numpy as np

COUNTER = "http_requests_total"
GAUGE = "memory_bytes"
INGEST_COUNTER = "ingest_requests_total"
LABELS = ["__name__", "instance", "job"]
RATE_RANGE_MS = 5 * 60_000
MAX_RANGE_MS = 10 * 60_000
# aligned to the chunk span so every chunk holds a full, equal share
T0_MS = 1_699_999_200_000


@dataclass(frozen=True)
class StoreSpec:
    """A series grid over ``[t0_ms, end_ms]`` with seeded values."""

    metrics: tuple[str, ...]
    jobs: tuple[str, ...]
    hosts: tuple[str, ...]
    scrape_ms: int
    samples: int  # per series
    chunk_ms: int
    slope: dict = field(hash=False, compare=False, default_factory=dict)
    gauge: dict = field(hash=False, compare=False, default_factory=dict)

    @classmethod
    def make(cls, seed, metrics, n_jobs, n_hosts, scrape_ms, hours, chunk_ms):
        rng = random.Random(seed)
        jobs = tuple(f"job-{i:02d}" for i in range(n_jobs))
        hosts = tuple(f"host-{i:04d}" for i in range(n_hosts))
        pairs = [(j, h) for j in jobs for h in hosts]
        slope = {p: rng.randint(1, 50) for p in pairs}
        # distinct gauges: no two series share an answer
        values = rng.sample(range(1_000_000, 9_000_000), len(pairs))
        gauge = dict(zip(pairs, values))
        return cls(
            tuple(metrics), jobs, hosts, scrape_ms,
            hours * 3_600_000 // scrape_ms, chunk_ms, slope, gauge,
        )

    @property
    def t0_ms(self) -> int:
        return T0_MS

    @property
    def end_ms(self) -> int:
        """Timestamp of the last sample."""
        return T0_MS + (self.samples - 1) * self.scrape_ms

    @property
    def scrape_s(self) -> float:
        return self.scrape_ms / 1000.0

    def series(self) -> list[dict[str, str]]:
        """Every series' labels, in the store's sorted-label order."""
        out = [
            {"__name__": m, "instance": h, "job": j}
            for m in self.metrics
            for j in self.jobs
            for h in self.hosts
        ]
        return sorted(out, key=lambda s: tuple(s[c] for c in LABELS))

    def value(self, labels: dict, k: np.ndarray) -> np.ndarray:
        """Sample values at sample indexes ``k`` (integers, so sums are
        exact)."""
        key = (labels["job"], labels["instance"])
        if labels["__name__"] == GAUGE:
            return np.full(len(k), float(self.gauge[key]))
        return self.slope[key] * (k + 1).astype(np.float64)

    def n_chunks(self) -> int:
        per = self.chunk_ms // self.scrape_ms
        return -(-self.samples // per)


def chunk_table(spec: StoreSpec):
    """The chunk rows of ``spec`` as a pyarrow Table in the engine's
    chunk schema (dense ``__series__id`` in sorted-label order), payloads
    encoded by the engine's own chunk codec."""
    import pyarrow as pa

    from tsdb_parquet_spark.chunks import encode_samples

    per = spec.chunk_ms // spec.scrape_ms
    cols = {c: [] for c in ("__series__id", "__mint", "__maxt", "__chunk_bytes")}
    cols.update({c: [] for c in LABELS})
    for sid, labels in enumerate(spec.series()):
        k_all = np.arange(spec.samples, dtype=np.int64)
        ts_all = spec.t0_ms + k_all * spec.scrape_ms
        vals = spec.value(labels, k_all)
        for lo in range(0, spec.samples, per):
            hi = min(lo + per, spec.samples)
            cols["__series__id"].append(sid)
            cols["__mint"].append(int(ts_all[lo]))
            cols["__maxt"].append(int(ts_all[hi - 1]))
            cols["__chunk_bytes"].append(encode_samples(ts_all[lo:hi], vals[lo:hi]))
            for c in LABELS:
                cols[c].append(labels[c])
    types = {"__series__id": pa.int64(), "__mint": pa.int64(),
             "__maxt": pa.int64(), "__chunk_bytes": pa.binary()}
    return pa.table({c: pa.array(v, types.get(c, pa.string()))
                     for c, v in cols.items()})


# -- requests ---------------------------------------------------------------


@dataclass(frozen=True)
class Request:
    """One HTTP op: ``path`` + ``params`` and the answer it must return.

    ``expect`` is the decoded ``data`` field of a correct response, in
    the normalized form :func:`normalize` produces.  ``needed_rows`` and
    ``needed_samples`` are the chunk rows and samples the request's
    matchers and window actually cover (the denominators of the scan and
    decode waste ratios)."""

    kind: str
    path: str
    params: tuple[tuple[str, str], ...]
    expect: object
    needed_rows: int = 0
    needed_samples: int = 0


def _grid(start: int, end: int, step: int) -> list[int]:
    return list(range(start, end + 1, step))


def _matrix(series: dict, steps: list[int]) -> dict:
    return {key: [(t, v) for t in steps] for key, v in series.items()}


def _key(labels: dict) -> tuple:
    return tuple(sorted(labels.items()))


def _sec(ms: int) -> str:
    return f"{ms / 1000:.3f}"


def _range_req(kind, query, start, end, step, expect, rows=0, samples=0):
    params = (("query", query), ("start", _sec(start)), ("end", _sec(end)),
              ("step", f"{step // 1000}"))
    return Request(kind, "/api/v1/query_range", params, expect, rows, samples)


def _coverage(spec: StoreSpec, n_series: int, lo: int, hi: int) -> tuple[int, int]:
    """(chunk rows, samples) of ``n_series`` series overlapping or inside
    ``[lo, hi]``."""
    lo, hi = max(lo, spec.t0_ms), min(hi, spec.end_ms)
    first = (lo - spec.t0_ms) // spec.chunk_ms
    last = (hi - spec.t0_ms) // spec.chunk_ms
    k_lo = -(-(lo - spec.t0_ms) // spec.scrape_ms)
    k_hi = (hi - spec.t0_ms) // spec.scrape_ms
    return n_series * (last - first + 1), n_series * (k_hi - k_lo + 1)


ADHOC_WINDOWS_H = (1, 3, 6, 12, 24)
#: one cycle of request kinds.  ``max_over_time_regex`` costs between the
#: metadata kinds and ``rate_instance``; giving it half the cycle puts the
#: median op, and the tail rank of a 30-request run (p66), well inside
#: its block rather than near a boundary between kinds, where host noise
#: would move them from one kind to the other
ADHOC_KINDS = ("rate_instance", "max_over_time_regex", "series",
               "max_over_time_regex", "label_values", "max_over_time_regex")
ADHOC_CYCLE = 30  # kinds x windows (coprime lengths): every combination once


def adhoc_requests(spec: StoreSpec, seed: int, n: int) -> list[Request]:
    """``n`` selective requests.  Kinds and window lengths cycle in a fixed
    order, so every seed runs the same mix; the seed picks hosts, jobs
    and window positions.  The two cycles have coprime lengths, so any
    run of consecutive requests holds a near-even share of every kind
    and every window length."""
    rng = random.Random(seed * 104729 + 2)
    out = []
    n_jobs = len(spec.jobs)
    for i in range(n):
        kind = ADHOC_KINDS[i % len(ADHOC_KINDS)]
        width = ADHOC_WINDOWS_H[i % len(ADHOC_WINDOWS_H)]
        width_ms = width * 3_600_000
        label = f"{kind}_{width}h"
        lo_min = spec.t0_ms + 30 * 60_000
        slots = (spec.end_ms - lo_min - width_ms) // 60_000
        start = lo_min + rng.randrange(0, slots + 1) * 60_000
        end = start + width_ms
        step = max(60_000, width_ms // 60 // 60_000 * 60_000)
        steps = _grid(start, end, step)
        host = rng.choice(spec.hosts)
        if kind == "rate_instance":
            expect = {
                _key({"job": j, "instance": host}): spec.slope[(j, host)] / spec.scrape_s
                for j in spec.jobs
            }
            rows, samples = _coverage(spec, n_jobs, start - RATE_RANGE_MS, end)
            out.append(_range_req(
                label, f'rate({COUNTER}{{instance="{host}"}}[5m])',
                start, end, step, _matrix(expect, steps), rows, samples))
        elif kind == "max_over_time_regex":
            job = rng.choice(spec.jobs)
            pair = sorted(rng.sample(spec.hosts, 2))
            expect = {
                _key({"job": job, "instance": h}): float(spec.gauge[(job, h)])
                for h in pair
            }
            rows, samples = _coverage(spec, 2, start - MAX_RANGE_MS, end)
            out.append(_range_req(
                label,
                f'max_over_time({GAUGE}{{job="{job}",instance=~"{"|".join(pair)}"}}[10m])',
                start, end, step, _matrix(expect, steps), rows, samples))
        elif kind == "series":
            expect = sorted(
                (_key({"__name__": COUNTER, "job": j, "instance": host})
                 for j in spec.jobs)
            )
            rows, samples = _coverage(spec, n_jobs, start, end)
            out.append(Request(
                label, "/api/v1/series",
                (("match[]", f'{COUNTER}{{instance="{host}"}}'),
                 ("start", _sec(start)), ("end", _sec(end))),
                expect, rows, samples))
        else:
            job = rng.choice(spec.jobs)
            trio = sorted(rng.sample(spec.hosts, 3))
            rows, samples = _coverage(spec, 3, start, end)
            out.append(Request(
                label, "/api/v1/label/instance/values",
                (("match[]", f'{GAUGE}{{job="{job}",instance=~"{"|".join(trio)}"}}'),
                 ("start", _sec(start)), ("end", _sec(end))),
                trio, rows, samples))
    return out


def normalize(path: str, data) -> object:
    """A response's ``data`` field in the comparable form the requests'
    ``expect`` uses: matrix -> {label tuple: [(t_ms, value)]}, series ->
    sorted label tuples, label lists as they are."""
    if path == "/api/v1/query_range":
        return {
            _key(item["metric"]): [
                (int(round(float(t) * 1000)), float(v)) for t, v in item["values"]
            ]
            for item in data["result"]
        }
    if path == "/api/v1/series":
        return sorted(_key(m) for m in data)
    return data


def matches(expect, got, rel: float = 1e-9) -> bool:
    """Exact on labels, timestamps and strings; floats to ``rel``."""
    if isinstance(expect, dict):
        if not isinstance(got, dict) or expect.keys() != got.keys():
            return False
        for key, pts in expect.items():
            other = got[key]
            if len(pts) != len(other):
                return False
            for (t1, v1), (t2, v2) in zip(pts, other):
                if t1 != t2 or abs(v1 - v2) > rel * max(1.0, abs(v1)):
                    return False
        return True
    return expect == got


# -- ingest ---------------------------------------------------------------


@dataclass(frozen=True)
class IngestSpec:
    """Remote-write traffic: every round pushes the next ``per_round``
    scrapes of every series, split into ``bodies`` POST bodies."""

    store: StoreSpec
    per_round: int
    bodies: int

    def __post_init__(self):
        if GAUGE in self.store.metrics:
            raise ValueError("ingest expectations assume counters only")

    def round_series(self, r: int) -> list[list[tuple[dict, list]]]:
        """Round ``r``'s series payloads, one list per POST body."""
        spec = self.store
        k = np.arange(r * self.per_round, (r + 1) * self.per_round, dtype=np.int64)
        ts = (spec.t0_ms + k * spec.scrape_ms).tolist()
        series = spec.series()
        groups = [[] for _ in range(self.bodies)]
        for i, labels in enumerate(series):
            vals = spec.value(labels, k).tolist()
            groups[i % self.bodies].append((labels, list(zip(ts, vals))))
        return groups

    def round_bodies(self, r: int) -> list[bytes]:
        from tsdb_parquet_spark.remote_write import (
            encode_write_request,
            frame_payload,
        )

        return [frame_payload(encode_write_request(g)) for g in self.round_series(r)]

    def round_samples(self) -> int:
        return len(self.store.series()) * self.per_round

    def expected_round(self, r: int) -> tuple[int, float]:
        """(sample count, value sum) of round ``r`` across all series."""
        lo, hi = r * self.per_round + 1, (r + 1) * self.per_round
        tri = (hi * (hi + 1) - (lo - 1) * lo) // 2  # sum of k+1 over the round
        total = sum(self.store.slope[(s["job"], s["instance"])]
                    for s in self.store.series())
        return self.round_samples(), float(total * tri)

    def expected_series(self, rounds: int) -> dict[tuple, tuple[int, float]]:
        """Per series (count, sum) after ``rounds`` rounds."""
        n = rounds * self.per_round
        return {
            (s["__name__"], s["instance"], s["job"]):
                (n, float(self.store.slope[(s["job"], s["instance"])] * n * (n + 1) // 2))
            for s in self.store.series()
        }


# -- sizes and determinism --------------------------------------------------

#: A run's timed work is a whole number of units, each about ``UNIT_S``
#: seconds of ops on a 4-core host: one cycle of ``ADHOC_CYCLE`` requests,
#: or ``INGEST_ROUNDS`` rounds.  The count follows ``--seconds`` only,
#: never the engine's speed, so every run of a seed sends the same ops to
#: the same store and its tail percentile sits at the same rank.
UNIT_S = 20.0
INGEST_ROUNDS = 8
ADHOC_WARM = 12  # untimed warm-up requests, from another seed: every kind twice


def units(seconds: float) -> int:
    return max(1, round(seconds / UNIT_S))


# Store sizes: see NOTES.md for the measurements behind them.
def adhoc_spec(seed: int) -> StoreSpec:
    return StoreSpec.make(seed, (COUNTER, GAUGE), 10, 50, 60_000, 48, 2 * 3_600_000)


def adhoc_run(seed: int, seconds: float) -> tuple[StoreSpec, list[Request], list[Request]]:
    """An ``adhoc`` run's store, warm-up requests and timed requests."""
    spec = adhoc_spec(seed)
    return (spec, adhoc_requests(spec, seed + 1, ADHOC_WARM),
            adhoc_requests(spec, seed, ADHOC_CYCLE * units(seconds)))


def ingest_spec(seed: int) -> IngestSpec:
    store = StoreSpec.make(seed, (INGEST_COUNTER,), 8, 128, 15_000, 24, 2 * 3_600_000)
    return IngestSpec(store, per_round=60, bodies=4)


def fingerprint(workload: str, seed: int, seconds: float = UNIT_S) -> str:
    """Digest of everything a run of ``workload`` generates for ``seed``:
    the store's series and values and every request, or every round's
    payloads (the warm-up round included).  It covers the generator's
    output, not the engine's encoding of it."""
    h = hashlib.sha256()
    if workload == "adhoc":
        spec, warm, timed = adhoc_run(seed, seconds)
        h.update(repr(spec).encode())
        for r in warm + timed:
            h.update(json.dumps([r.path, r.params, repr(r.expect),
                                 r.needed_rows, r.needed_samples]).encode())
    else:
        spec = ingest_spec(seed)
        h.update(repr(spec).encode())
        for r in range(1 + INGEST_ROUNDS * units(seconds)):
            h.update(repr(spec.round_series(r)).encode())
    return h.hexdigest()


#: digests of seed ``GOLDEN_SEED`` at one unit, pinned: a run whose
#: generator no longer reproduces them, in any process, is not correct
GOLDEN_SEED = 1
GOLDEN = {
    "adhoc": "04714d0f261d16a3b52bb74cddb8f9ec7630538bb7493dfc972f462873271691",
    "ingest": "10ede269dd2c69201502edbdb62f9d72f553a8fe8d3f6cd43a8821e2c8f07155",
}

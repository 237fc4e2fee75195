"""The chunk payload: ``__ts``/``__values`` arrays, JVM-only on the hot
paths, and lossless both ways — samples <-> arrays, blobs -> arrays.

Plan-shape guards pin that no Python operator runs on the native read
path (``select_samples``, a PromQL ``rate``) or in ``samples_to_chunks``;
Hypothesis round trips pin exactness on timestamps and on value BITS,
NaN payloads and Prometheus stale markers included, through the encode
and decode expressions themselves.  (Writing the arrays to Parquet
canonicalizes NaN payloads — parquet-java writes doubles through
``Double.doubleToLongBits``; see FIXTURES.md F1.)"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tsdb_parquet_spark.chunks import (
    blobs_to_arrays,
    chunks_to_samples,
    encode_samples,
    samples_to_chunks,
    with_sample_arrays,
)
from tsdb_parquet_spark.schema import CHUNK_BYTES, sort_columns
from tsdb_parquet_spark.tsdb_wal import STALE_NAN_BITS
from tsdb_parquet_spark.xorchunk import encode_xor_chunk

WORK = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".work",
    "test_chunk_arrays",
)
LABELS = ["__name__", "job"]
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas")

#: value bit patterns the codecs must carry exactly
SPECIAL_BITS = [
    STALE_NAN_BITS,  # Prometheus stale marker
    0x7FF8000000000001,  # quiet NaN with a payload
    0xFFF8000000000000,  # negative canonical NaN
    0x7FF8000000000000,  # canonical NaN
    0x8000000000000000,  # -0.0
    0x7FF0000000000000,  # +inf
]


def _bits(values) -> list[int]:
    return np.asarray(values, np.float64).view(np.uint64).tolist()


def _executed(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def native_store(spark):
    from tsdb_parquet_spark.sources.writer import WriterOptions, write_sorted

    rows = [
        ("m", job, t * 15_000, float(t * (i + 1)))
        for i, job in enumerate(["a", "b", "c"])
        for t in range(200)
    ]
    samples = spark.createDataFrame(
        rows, "`__name__` string, job string, ts long, value double"
    )
    out = os.path.join(WORK, "native")
    shutil.rmtree(out, ignore_errors=True)
    write_sorted(
        samples_to_chunks(samples, LABELS, chunk_span_ms=600_000),
        out,
        WriterOptions(sort_columns=sort_columns(LABELS), max_files=2),
    )
    return out


def test_native_read_paths_run_no_python(spark, native_store):
    from tsdb_parquet_spark.operators.selection import Matcher
    from tsdb_parquet_spark.plans.promql import PromQLEngine
    from tsdb_parquet_spark.querier import ChunkQuerier

    q = ChunkQuerier.from_store(spark, native_store)
    samples = q.select_samples(matchers=[Matcher("job", "=", "b")], labels=LABELS)
    plan = _executed(samples)
    assert "Generate explode(arrays_zip(" in plan
    assert not [n for n in PYTHON_NODES if n in plan], plan
    assert samples.count() == 200

    engine = PromQLEngine(q.select_samples(labels=LABELS))
    rate = engine.query_range('rate(m{job="c"}[5m])', 600_000, 2_400_000, 60_000)
    plan = _executed(rate)
    assert not [n for n in PYTHON_NODES if n in plan], plan
    # job c grows by 3 per 15 s scrape: rate = 0.2/s at every step
    values = {r["value"] for r in rate.collect()}
    assert values and all(abs(v - 0.2) < 1e-12 for v in values)


def test_samples_to_chunks_runs_no_python(spark):
    samples = spark.createDataFrame(
        [("m", "a", t * 1000, float(t)) for t in range(50)],
        "`__name__` string, job string, ts long, value double",
    )
    for ids in (True, False):
        chunks = samples_to_chunks(samples, LABELS, assign_series_ids=ids)
        plan = _executed(chunks)
        assert not [n for n in PYTHON_NODES if n in plan], plan
        assert dict(chunks.dtypes)["__ts"] == "array<bigint>"
        assert dict(chunks.dtypes)["__values"] == "array<double>"
        assert CHUNK_BYTES not in chunks.columns


_values = st.one_of(
    st.floats(allow_nan=False),
    st.sampled_from(SPECIAL_BITS).map(
        lambda b: np.array([b], np.uint64).view(np.float64)[0].item()
    ),
)


@st.composite
def _series_samples(draw):
    """(job, ts, value) rows: per job, distinct timestamps in any order."""
    rows = []
    for job in draw(st.lists(st.sampled_from("abcd"), min_size=1, max_size=3,
                             unique=True)):
        ts = draw(st.lists(st.integers(-(10**9), 10**12), min_size=1,
                           max_size=40, unique=True))
        rows += [(job, t, draw(_values)) for t in ts]
    return draw(st.permutations(rows))


def _samples_frame(spark, rows):
    # through Arrow, so the input keeps its exact value bits
    table = pa.table({
        "__name__": ["m"] * len(rows),
        "job": [r[0] for r in rows],
        "ts": pa.array([r[1] for r in rows], pa.int64()),
        "value": pa.array([r[2] for r in rows], pa.float64()),
    })
    return spark.createDataFrame(table).repartition(3)


def _sorted_bits(table: pa.Table) -> list[tuple]:
    return sorted(zip(
        table.column("job").to_pylist(),
        table.column("ts").to_pylist(),
        _bits(table.column("value").to_numpy()),
    ))


@settings(max_examples=15, deadline=None)
@given(rows=_series_samples(), span=st.sampled_from([1_000, 60_000, 10**13]))
def test_samples_arrays_samples_roundtrip_exact(spark, rows, span):
    chunks = samples_to_chunks(
        _samples_frame(spark, rows), LABELS, chunk_span_ms=span
    )
    back = chunks_to_samples(chunks, LABELS).toArrow()
    want = sorted((j, t, b) for j, t, b in zip(
        [r[0] for r in rows], [r[1] for r in rows], _bits([r[2] for r in rows])
    ))
    assert _sorted_bits(back) == want
    # every chunk row: sorted, equal-length arrays whose bounds are its
    # samples' own
    for row in chunks.collect():
        assert len(row["__ts"]) == len(row["__values"])
        assert row["__ts"] == sorted(row["__ts"])
        assert (row["__mint"], row["__maxt"]) == (row["__ts"][0], row["__ts"][-1])


@st.composite
def _chunk(draw):
    """(sorted timestamps, values, XOR?) of one chunk blob."""
    ts = sorted(draw(st.lists(st.integers(-(10**12), 10**12), min_size=1,
                              max_size=50, unique=True)))
    vals = draw(st.lists(_values, min_size=len(ts), max_size=len(ts)))
    return np.array(ts, np.int64), np.array(vals, np.float64), draw(st.booleans())


@settings(max_examples=15, deadline=None)
@given(chunks=st.lists(_chunk(), min_size=1, max_size=6))
def test_blobs_to_arrays_roundtrip_exact(spark, chunks):
    """Raw and XOR blobs of one frame -> blobs_to_arrays -> samples."""
    blobs, want = [], []
    for i, (ts, vals, xor) in enumerate(chunks):
        encode = encode_xor_chunk if xor else encode_samples
        blobs.append(encode(ts, vals))
        want += [(str(i), int(t), b) for t, b in zip(ts, _bits(vals))]
    frame = spark.createDataFrame(pa.table({
        "__name__": ["m"] * len(blobs),
        "job": [str(i) for i in range(len(blobs))],
        CHUNK_BYTES: pa.array(blobs, pa.binary()),
    }))
    arrays = with_sample_arrays(frame)
    assert CHUNK_BYTES not in arrays.columns
    assert _sorted_bits(chunks_to_samples(arrays, LABELS).toArrow()) == sorted(want)


def test_blobs_to_arrays_empty_and_sliced_batches():
    """The Arrow function itself: an empty batch, and a sliced batch
    (nonzero array offset) over mixed raw/XOR blobs."""
    empty = blobs_to_arrays.func(pa.array([], pa.binary()))
    assert len(empty) == 0
    ts = np.arange(5, dtype=np.int64) * 1000
    vals = np.arange(5, dtype=np.float64)
    blobs = pa.array(
        [encode_samples(ts, vals), encode_xor_chunk(ts + 1, vals * 2),
         encode_samples(ts[:2], vals[:2])],
        pa.binary(),
    )
    out = blobs_to_arrays.func(blobs.slice(1))
    assert out.field("__ts").to_pylist() == [(ts + 1).tolist(), ts[:2].tolist()]
    assert out.field("__values").to_pylist() == [(vals * 2).tolist(), vals[:2].tolist()]


def test_compact_merges_blob_and_array_parts(spark):
    """A store root holding a blob-payload part (written before the
    array layout) and an array part compacts into one array store with
    every sample of both."""
    from tsdb_parquet_spark.sources.writer import SortedParquetWriter, WriterOptions

    root = os.path.join(WORK, "mixed_root")
    shutil.rmtree(root, ignore_errors=True)
    ts = np.arange(4, dtype=np.int64) * 1000
    blob_part = spark.createDataFrame(pa.table({
        "__mint": [0], "__maxt": [3000],
        CHUNK_BYTES: pa.array([encode_xor_chunk(ts, ts * 0.5)], pa.binary()),
        "__name__": ["m"], "job": ["old"],
    }))
    blob_part.write.parquet(os.path.join(root, "part.0"))
    writer = SortedParquetWriter(
        spark, root, WriterOptions(sort_columns=sort_columns(LABELS))
    )
    writer.write(samples_to_chunks(
        spark.createDataFrame(
            [("m", "new", int(t), float(t)) for t in ts],
            "`__name__` string, job string, ts long, value double",
        ),
        LABELS,
        assign_series_ids=False,
    ))
    out = spark.read.parquet(writer.compact())
    assert CHUNK_BYTES not in out.columns
    got = sorted(map(tuple, chunks_to_samples(out, ["job"]).collect()))
    assert got == sorted(
        [("old", int(t), t * 0.5) for t in ts] + [("new", int(t), float(t)) for t in ts]
    )

"""Chunk payloads + ingestion from a samples table (reference S4 + M3).

The reference converts a Prometheus TSDB block into one Parquet row per
chunk (`cmd/convert/main.go:23-126`): series labels, file-local
``__series__id``, ``__mint``/``__maxt``, and the raw chunk bytes.  Its chunk
payload is a Prometheus XOR chunk of ~120 samples (`db/writer_test.go:
145-150`); its sample decoder was never implemented
(`prometheus/chunks_iterator.go:8-41`).

Our store keeps a chunk's samples as two Parquet-native repeated columns
instead of an opaque blob: ``__ts array<bigint>`` and ``__values
array<double>``, equal length, sorted by timestamp.  Parquet's
repetition/definition levels (Dremel) encode them, the vectorized reader
decodes them, and both directions stay in the JVM:

- encode (:func:`samples_to_chunks`): one shuffle on (series, time
  bucket), ``array_sort(collect_list(struct(ts, value)))`` and the two
  field projections of that sorted array;
- decode (:func:`chunks_to_samples`): ``explode(arrays_zip(__ts,
  __values))``.

Blobs remain the import/export format.  A ``__chunk_bytes`` column holds
either the engine's earlier raw layout (``uint32 LE count, then count x
(int64 LE ts_ms, float64 LE value)``) or a Prometheus XOR chunk; the one
Arrow function :func:`blobs_to_arrays` turns either into the two arrays
at every import boundary (:func:`with_sample_arrays`), and
:func:`encode_xor_chunk_udf` produces XOR blobs from the arrays for the
export paths (remote-read chunk streaming, TSDB block export).
"""

from __future__ import annotations

import struct
from typing import Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf

from tsdb_parquet_spark.schema import (
    CHUNK_BYTES,
    MAX_T,
    MIN_T,
    SERIES_ID,
    TS_ARRAY,
    VALUES_ARRAY,
)

#: default chunk span: one day of samples per chunk (the reference targets
#: ~120 samples/chunk; span is the knob at ingest time)
DEFAULT_CHUNK_SPAN_MS = 24 * 3600 * 1000

SAMPLE_ARRAYS = T.StructType(
    [
        T.StructField(TS_ARRAY, T.ArrayType(T.LongType(), False), False),
        T.StructField(VALUES_ARRAY, T.ArrayType(T.DoubleType(), False), False),
    ]
)


_TS_LIST = pa.list_(pa.field("element", pa.int64(), nullable=False))
_VALUES_LIST = pa.list_(pa.field("element", pa.float64(), nullable=False))
_SAMPLE_FIELDS = [
    pa.field(TS_ARRAY, _TS_LIST, nullable=False),
    pa.field(VALUES_ARRAY, _VALUES_LIST, nullable=False),
]


def encode_samples(ts_ms: np.ndarray, values: np.ndarray) -> bytes:
    """Pack sorted samples into the raw blob layout."""
    n = len(ts_ms)
    out = bytearray(struct.pack("<I", n))
    buf = np.empty(2 * n, dtype=np.int64)
    buf[0::2] = ts_ms.astype(np.int64)
    buf[1::2] = values.astype(np.float64).view(np.int64)
    out += buf.tobytes()
    return bytes(out)


def decode_samples(blob: bytes) -> tuple[np.ndarray, np.ndarray]:
    (n,) = struct.unpack_from("<I", blob, 0)
    buf = np.frombuffer(blob, dtype=np.int64, offset=4, count=2 * n)
    return buf[0::2].copy(), buf[1::2].copy().view(np.float64)


@arrow_udf(SAMPLE_ARRAYS)
def blobs_to_arrays(blobs: pa.Array) -> pa.Array:
    """Chunk blobs -> ``struct<__ts, __values>``, the import-boundary
    decode.  The codec is detected per blob: the raw layout is
    self-describing by exact length (``xorchunk.is_raw_chunk``) and
    slices zero-copy out of the batch's data buffer; anything else
    decodes as a Prometheus/Gorilla XOR chunk, so a parquet file written
    by the reference's ``cmd/convert`` (`schema/chunk.go:35-36`) imports
    through the same function.  The only Python loop is per chunk; the
    output is two ListArrays over flat numpy buffers."""
    from tsdb_parquet_spark.xorchunk import decode_xor_chunk

    if isinstance(blobs, pa.ChunkedArray):
        blobs = blobs.combine_chunks()
    if len(blobs) == 0:
        return pa.array([], pa.struct(_SAMPLE_FIELDS))
    # explicit buffer math (BinaryArray has no .offsets accessor):
    # buffers() = [validity, byte-offsets, data]; honor the slice offset
    # and both 32-bit (binary) and 64-bit (large_binary) offset widths
    off_dtype = np.int64 if pa.types.is_large_binary(blobs.type) else np.int32
    off_buf = np.frombuffer(blobs.buffers()[1], dtype=off_dtype)
    bounds = off_buf[blobs.offset : blobs.offset + len(blobs) + 1]
    mem = memoryview(blobs.buffers()[2])
    counts = np.empty(len(blobs), dtype=np.int64)
    ts_parts, val_parts = [], []
    for i in range(len(blobs)):
        base = bounds[i]
        blob_len = bounds[i + 1] - base
        n = struct.unpack_from("<I", mem, base)[0] if blob_len >= 4 else -1
        if blob_len == 4 + 16 * n:
            pairs = np.frombuffer(mem, dtype=np.int64, count=2 * n, offset=base + 4)
            ts, vals = pairs[0::2], pairs[1::2].view(np.float64)
        else:
            ts, vals = decode_xor_chunk(bytes(mem[base : base + blob_len]))
        counts[i] = len(ts)
        ts_parts.append(ts)
        val_parts.append(vals)
    offsets = np.zeros(len(blobs) + 1, dtype=np.int32)
    np.cumsum(counts, out=offsets[1:])
    offsets = pa.array(offsets, pa.int32())
    ts, vals = pa.array(np.concatenate(ts_parts)), pa.array(np.concatenate(val_parts))
    return pa.StructArray.from_arrays(
        [
            pa.ListArray.from_arrays(offsets, ts, type=_TS_LIST),
            pa.ListArray.from_arrays(offsets, vals, type=_VALUES_LIST),
        ],
        fields=_SAMPLE_FIELDS,
    )


@arrow_udf(T.BinaryType())
def encode_xor_chunk_udf(ts: pa.Array, values: pa.Array) -> pa.Array:
    """``(__ts, __values)`` -> Prometheus/Gorilla XOR blob
    (`xorchunk.py`): per-chunk Python over the Arrow batch's flat
    buffers — the export encoder for readers that need spec chunks
    (remote-read streaming; byte-compatible with the reference's
    converter output, `cmd/convert/main.go:107`)."""
    from tsdb_parquet_spark.xorchunk import encode_xor_chunk

    if isinstance(ts, pa.ChunkedArray):
        ts, values = ts.combine_chunks(), values.combine_chunks()
    counts = pa.compute.list_value_length(ts).to_numpy().astype(np.int64)
    flat_ts = ts.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
    flat_vals = values.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    ends = np.cumsum(counts)
    blobs = []
    for i in range(len(counts)):
        s, e = ends[i] - counts[i], ends[i]
        blobs.append(encode_xor_chunk(flat_ts[s:e], flat_vals[s:e]))
    return pa.array(blobs, pa.binary())


def with_sample_arrays(chunks: DataFrame) -> DataFrame:
    """The chunk frame with its payload as ``__ts``/``__values``: a blob
    frame (``__chunk_bytes`` — an imported block, a reference-converted
    file, a store written before the array layout) is converted by
    :func:`blobs_to_arrays` in place of the blob column; an array frame
    passes through untouched.  Every reader and writer goes through
    here, so everything downstream sees one payload layout."""
    if CHUNK_BYTES not in chunks.columns:
        return chunks
    decoded = chunks.withColumn(CHUNK_BYTES, blobs_to_arrays(F.col(CHUNK_BYTES)))
    cols = []
    for c in chunks.columns:
        if c == CHUNK_BYTES:
            cols += [
                F.col(CHUNK_BYTES)[TS_ARRAY].alias(TS_ARRAY),
                F.col(CHUNK_BYTES)[VALUES_ARRAY].alias(VALUES_ARRAY),
            ]
        else:
            cols.append(F.col(f"`{c}`"))
    return decoded.select(*cols)


def sample_structs() -> Column:
    """A chunk row's samples as ``array<struct<ts, value>>``, zipped from
    the payload arrays in the JVM."""
    return F.arrays_zip(
        F.col(TS_ARRAY).alias("ts"), F.col(VALUES_ARRAY).alias("value")
    )


def samples_to_chunks(
    samples: DataFrame,
    label_columns: Sequence[str],
    ts_col: str = "ts",
    value_col: str = "value",
    chunk_span_ms: int = DEFAULT_CHUNK_SPAN_MS,
    assign_series_ids: bool = True,
    encoding: str = "arrays",
) -> DataFrame:
    """Convert a samples DataFrame (int64 ms ``ts_col``, double
    ``value_col``, string label columns) into the chunk table.

    Mirrors the converter (`cmd/convert/main.go:79-117`): chunks carry the
    exact [min ts, max ts] of their samples; ``__series__id`` is dense
    0..N-1 in sorted-label order (`cmd/convert/main.go:84-91`,
    `schema/chunk.go:28-30` — file-local identity).

    Scale: ONE shuffle — the groupBy on (series, bucket) — with the sample
    collection, sort, min/max and the payload arrays all JVM-side (hash
    aggregate + array_sort + field projection); no Python runs.  The
    dense_rank for series ids runs over the distinct-series reduction, so
    its window input is |series|, not |chunks|.

    ``encoding``: ``"arrays"`` (default, the store's ``__ts``/``__values``
    payload) or ``"xor"`` (a ``__chunk_bytes`` Prometheus/Gorilla blob
    per chunk, for exports that need spec chunks).
    """
    if encoding not in ("arrays", "xor"):
        raise ValueError(f"unknown chunk encoding {encoding!r}")
    labels = list(label_columns)
    bucket = F.expr(f"{ts_col} div {int(chunk_span_ms)}").alias("__bucket")
    # missing-label convention enforced at WRITE time (`schema/chunk.go:
    # 109-112`): a NULL label becomes "" here, so stores built through this
    # path never contain NULL labels and `ChunkQuerier.from_stores` can
    # safely skip the read-side coalesce for columns every store has —
    # keeping parquet predicate pushdown live on the merged scan
    grouped = samples.select(
        *[F.coalesce(F.col(c), F.lit("")).alias(c) for c in labels],
        F.col(ts_col).alias("ts"),
        F.col(value_col).alias("value"),
        bucket,
    )

    agg = grouped.groupBy(*labels, "__bucket").agg(
        F.min("ts").alias(MIN_T),
        F.max("ts").alias(MAX_T),
        # array_sort on struct orders by ts (first field) — the chunk's
        # sample order contract
        F.array_sort(F.collect_list(F.struct("ts", "value"))).alias("__samples"),
    )
    chunks = agg.select(
        *labels,
        MIN_T,
        MAX_T,
        F.col("__samples")["ts"].alias(TS_ARRAY),
        F.col("__samples")["value"].alias(VALUES_ARRAY),
    )
    payload = (
        [encode_xor_chunk_udf(TS_ARRAY, VALUES_ARRAY).alias(CHUNK_BYTES)]
        if encoding == "xor"
        else [TS_ARRAY, VALUES_ARRAY]
    )

    if not assign_series_ids:
        # streaming parts defer id assignment to compaction —
        # `__series__id` is file-local identity (`schema/chunk.go:28-30`)
        return chunks.select(MIN_T, MAX_T, *payload, *sorted(labels))

    series_ids = dense_series_ids(chunks.select(*labels).distinct(), labels)
    # no broadcast hint: one row per distinct series can exceed driver
    # memory at 100M+ series — AQE broadcasts only when actually small
    return chunks.join(series_ids, on=labels, how="inner").select(
        SERIES_ID, MIN_T, MAX_T, *payload, *sorted(labels)
    )


def dense_series_ids(series: DataFrame, label_columns: Sequence[str]) -> DataFrame:
    """Assign dense ids 0..N-1 to distinct series in sorted-label order
    (`cmd/convert/main.go:84-91` assigns monotonically over sorted
    postings).

    NOT a global Window (``Window.orderBy`` with no partition key pulls
    every row into one task — a hard wall at 100M+ series), and NOT an RDD
    pass (every series row would round-trip through Python pickling).
    All-JVM single-cache plan:

    1. range-sort the distinct series (ordered partitions, sorted rows);
    2. tag each row with its partition id and its dense in-partition index
       (``monotonically_increasing_id`` assigns ``pid << 33 + row#`` in
       iteration order, which IS the sorted order after the local sort —
       mask off the partition bits to get the local index);
    3. per-partition counts -> running-sum offsets (a window over ONE row
       per partition — |partitions| rows, trivially single-task);
    4. broadcast the offset table back onto the tagged rows:
       ``id = offset[pid] + local_index``.

    The tagged frame is persisted because the range sort is NOT safe to
    recompute (``repartitionByRange`` samples its boundaries from shuffle
    iteration order, so a recompute can re-bucket rows and shift every
    (pid, idx) pair); the returned id table is pinned by an eager
    ``localCheckpoint`` — one (labels, id) row per series, spilled via
    MEMORY_AND_DISK — which lets the fat tagged cache be dropped
    explicitly before returning instead of waiting on the ContextCleaner.
    """
    from pyspark.sql.window import Window

    labels_sorted = [c for c in sorted(label_columns)]
    n_parts = int(
        series.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    ordered = series.repartitionByRange(n_parts, *labels_sorted).sortWithinPartitions(
        *labels_sorted
    )
    tagged = ordered.select(
        "*",
        F.spark_partition_id().alias("__pid"),
        (
            F.monotonically_increasing_id()
            - F.shiftleft(F.spark_partition_id().cast("long"), 33)
        ).alias("__idx"),
    ).persist()

    counts = tagged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    running = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "__pid",
        F.coalesce(F.sum("__cnt").over(running), F.lit(0)).alias("__offset"),
    )

    out = (
        tagged.join(F.broadcast(offsets), on="__pid", how="inner")
        .select(
            *[F.col(c) for c in ordered.columns],
            (F.col("__offset") + F.col("__idx")).alias(SERIES_ID),
        )
        .localCheckpoint(eager=True)
    )
    tagged.unpersist()
    return out


def chunks_to_samples(chunks: DataFrame, label_columns: Sequence[str]) -> DataFrame:
    """Inverse of :func:`samples_to_chunks`: explode the payload arrays
    back to (labels..., ts, value) rows.  A blob frame is converted first
    (:func:`with_sample_arrays`), so every source ends in the same JVM
    ``explode(arrays_zip(...))``."""
    labels = list(label_columns)
    exploded = with_sample_arrays(chunks).select(
        *[F.col(f"`{c}`") for c in labels], F.explode(sample_structs()).alias("s")
    )
    return exploded.select(
        *[F.col(f"`{c}`") for c in labels],
        F.col("s.ts").alias("ts"),
        F.col("s.value").alias("value"),
    )

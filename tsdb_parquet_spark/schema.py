"""Chunk-table data model (reference §1: `schema/chunk.go`).

One row per time-series chunk: reserved columns ``__series__id``, ``__mint``,
``__maxt`` (`schema/chunk.go:13-23`), the chunk's samples as two
equal-length Parquet-native arrays ``__ts array<bigint>`` and ``__values
array<double>`` (sorted by timestamp), plus one string column per label
name, alphabetically ordered (`schema/chunk.go:87-95`).  Timestamps are
int64 Unix milliseconds; absent labels are empty strings
(`schema/chunk.go:109-112`) — no nulls anywhere (`schema/column.go:30`).

The reference's opaque ``__chunk_bytes`` payload (`schema/chunk.go:35-36`)
is the import/export form: it stays reserved, so a blob store (a
reference-converted file, an imported TSDB block) never reads it as a
label, and `chunks.with_sample_arrays` converts it to the arrays.
"""

from __future__ import annotations

from pyspark.sql import types as T

SERIES_ID = "__series__id"
MIN_T = "__mint"
MAX_T = "__maxt"
TS_ARRAY = "__ts"
VALUES_ARRAY = "__values"
CHUNK_BYTES = "__chunk_bytes"
METRIC_NAME = "__name__"

RESERVED_COLUMNS = (SERIES_ID, MIN_T, MAX_T, TS_ARRAY, VALUES_ARRAY, CHUNK_BYTES)


def chunk_schema(label_names: list[str]) -> T.StructType:
    """Build the chunk StructType for a label set, mirroring
    `schema.MakeChunkSchema` (`schema/chunk.go:87-95`): reserved columns in
    fixed positions, then labels sorted alphabetically."""
    fields = [
        T.StructField(SERIES_ID, T.LongType(), nullable=False),
        T.StructField(MIN_T, T.LongType(), nullable=False),
        T.StructField(MAX_T, T.LongType(), nullable=False),
        T.StructField(TS_ARRAY, T.ArrayType(T.LongType(), False), nullable=False),
        T.StructField(
            VALUES_ARRAY, T.ArrayType(T.DoubleType(), False), nullable=False
        ),
    ]
    for name in sorted(label_names):
        if name in RESERVED_COLUMNS:
            raise ValueError(f"label {name!r} collides with a reserved column")
        fields.append(T.StructField(name, T.StringType(), nullable=False))
    return T.StructType(fields)


def sort_columns(label_names: list[str]) -> list[str]:
    """The layout-contract sort order (`db/writer.go:238-260`):
    ``__name__`` first, then ``__mint``, ``__maxt``, then the remaining
    labels alphabetically."""
    rest = sorted(n for n in label_names if n != METRIC_NAME)
    lead = [METRIC_NAME] if METRIC_NAME in label_names else []
    return lead + [MIN_T, MAX_T] + rest


def label_columns(schema: T.StructType) -> list[str]:
    return [f.name for f in schema.fields if f.name not in RESERVED_COLUMNS]

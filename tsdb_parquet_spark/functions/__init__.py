from tsdb_parquet_spark.functions import (
    clusters,
    decontaminate,
    dedup,
    ordering,
    pii,
    pipeline,
    quality,
    sampling,
    text,
)

__all__ = [
    "clusters",
    "decontaminate",
    "dedup",
    "ordering",
    "pii",
    "pipeline",
    "quality",
    "sampling",
    "text",
]

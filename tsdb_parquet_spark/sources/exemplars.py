"""Exemplar store: exemplars as first-class sorted-parquet citizens.

The reference's data model stores only (labels, chunk) rows
(`schema/chunk.go:25-37`) — exemplars have no home there.  Prometheus
serves them through the public ``/api/v1/query_exemplars`` HTTP API:
given a series selector and a time range, return each matching series'
exemplars.  This module gives the engine that surface on its own layout
contract:

* :func:`write_exemplar_store` lays exemplar rows (``labels..., ts,
  value, exemplar_labels``) out as range-partitioned, internally sorted
  parquet — label columns lead the sort so selector pushdown prunes row
  groups, blooms cover the label columns, and ``partition_by_day=True``
  adds a hive-style ``__day`` directory level so a farm-scale store
  prunes whole days before any footer is read (and retention is an
  O(1) directory drop, like the chunk store).
* :func:`select_exemplars` compiles ``(matchers, mint, maxt)`` to a
  pushed-down scan using the same `operators.selection.Matcher`
  machinery the chunk querier uses (reference
  `prometheus/querier.go:66-73`) — the time bound lands in
  ``PushedFilters`` and, day-partitioned, in ``PartitionFilters``.

Feeds: any exemplar frame — the WAL drain
(`tsdb_wal.wal_to_exemplars_frame`), remote-write payload exemplars
(`remote_write.decode_exemplars`), or scrape exposition exemplars
(`scrape.exposition_exemplars`).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_DAY_MS = 24 * 3600 * 1000

__all__ = [
    "write_exemplar_store",
    "select_exemplars",
    "exemplar_writer",
    "with_day_column",
    "exemplar_options",
]


def exemplar_options(label_names: Sequence[str], partition_by_day: bool):
    """The store's canonical :class:`WriterOptions` — ``__name__``-led
    sort with ``ts`` last, blooms on the non-name labels, hive ``__day``
    partitioning when requested.  Shared by the one-shot and incremental
    write paths so both lay out byte-compatible stores."""
    from tsdb_parquet_spark.schema import METRIC_NAME
    from tsdb_parquet_spark.sources.writer import WriterOptions

    labels = list(label_names)
    lead = [METRIC_NAME] if METRIC_NAME in labels else []
    sort = lead + sorted(n for n in labels if n != METRIC_NAME) + ["ts"]
    return WriterOptions(
        sort_columns=sort,
        bloom_columns=[n for n in labels if n != METRIC_NAME],
        max_files=16,
        partition_by=["__day"] if partition_by_day else [],
    )


def with_day_column(frame: DataFrame) -> DataFrame:
    """Derive the hive partition column: floor division (matches
    ``select_exemplars``' python ``//``, incl. pre-epoch timestamps —
    ``cast()`` truncates toward zero)."""
    return frame.withColumn(
        "__day", F.floor(F.col("ts") / F.lit(_DAY_MS)).cast("long")
    )


def exemplar_writer(
    spark: SparkSession, root: str, label_names: Sequence[str]
):
    """Incremental exemplar ingest: a ``SortedParquetWriter`` over the
    store's canonical day-partitioned layout, so the standard
    maintenance lifecycle applies to exemplars exactly as to the sample
    store — ``maintenance.maybe_compact`` bounds part count between
    drains and ``maintenance.vacuum_store`` / ``retention_sweep`` drops
    whole ``__day=`` partitions past the horizon (exemplars must not
    grow unboundedly while the samples they decorate get swept).

    Feed it frames via :func:`with_day_column`; read the store back
    with :func:`select_exemplars` (root alias or compact dir)."""
    from tsdb_parquet_spark.sources.writer import SortedParquetWriter

    return SortedParquetWriter(
        spark, root, exemplar_options(label_names, partition_by_day=True)
    )


def write_exemplar_store(
    frame: DataFrame,
    dest: str,
    label_names: Sequence[str],
    writer_opts=None,
    partition_by_day: bool = False,
) -> str:
    """Write an exemplar frame (``label_names..., ts, value,
    exemplar_labels``) as a sorted store under ``dest``.  Sort order is
    ``__name__`` first then the remaining labels then ``ts`` — selector
    pushdown prunes row groups by label, and within a series' run the
    ``ts`` column stays ordered for zone-map range pruning."""
    from tsdb_parquet_spark.sources.writer import write_sorted

    if writer_opts is None:
        writer_opts = exemplar_options(label_names, partition_by_day)
    elif partition_by_day and not writer_opts.partition_by:
        from dataclasses import replace as _replace

        writer_opts = _replace(writer_opts, partition_by=["__day"])
    if partition_by_day:
        frame = with_day_column(frame)
    return write_sorted(frame, dest, writer_opts)


def select_exemplars(
    spark: SparkSession,
    store: str,
    matchers,
    mint: int,
    maxt: int,
) -> DataFrame:
    """``/api/v1/query_exemplars`` semantics: exemplars of series
    matching ``matchers`` with ``mint <= ts <= maxt`` (closed interval,
    like Prometheus range queries).  Everything is a pushed predicate —
    matcher columns and the ``ts`` bounds reach the parquet scan, and a
    day-partitioned store prunes directories driver-side via the
    derived ``__day`` bounds before any footer is read."""
    import os

    from tsdb_parquet_spark.operators.selection import apply_matchers

    mint, maxt = int(mint), int(maxt)
    if os.path.isdir(store) and any(
        e == "_snapshots" or e.startswith(("part.", "compact"))
        for e in os.listdir(store)
    ):
        # incremental-writer root (exemplar_writer): read exactly the
        # manifest's live directory set — a raw read.parquet(root)
        # would double-count compacted parts against the compact copy
        from tsdb_parquet_spark.sources.writer import (
            live_store_dirs,
            read_roots,
        )

        df = read_roots(spark, live_store_dirs(store))
    else:
        df = spark.read.parquet(store)
    pred = (F.col("ts") >= F.lit(mint)) & (F.col("ts") <= F.lit(maxt))
    if "__day" in df.columns:
        pred = (
            pred
            & (F.col("__day") >= F.lit(mint // _DAY_MS))
            & (F.col("__day") <= F.lit(maxt // _DAY_MS))
        )
    out = apply_matchers(df, matchers).filter(pred)
    return out.drop("__day") if "__day" in df.columns else out

"""Receiver spool -> store: LIVE remote-write / scrape-text ingestion.

A receiver process (any HTTP server) spools each remote-write POST body
or scrape capture to a file in a directory; Structured Streaming tails
the spool and appends sorted parts to the chunk store through
``StreamingChunkIngestor`` (exactly-once via the idempotent
batch-id-keyed part sink).  The HTTP listener itself is out of scope —
the same boundary as the reference keeping its GCS bucket outside the
engine (`storage/bucket.go:21-52`); anything that can write a file can
feed this.

Scale shape: the spool listing is driver-side metadata (file stream
source); payload DECODE runs executor-side per micro-batch —
``remote_write_frame``'s ``mapInArrow`` for protobuf bodies, the
all-JVM ``scrape_samples`` plan for exposition text — and each
micro-batch writes one sorted part, compacted by ``finalize()`` /
``vacuum`` like every other ingest path.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tsdb_parquet_spark.streaming.ingest import StreamingChunkIngestor

__all__ = [
    "otlp_spool_ingestor",
    "remote_write_spool_ingestor",
    "scrape_spool_ingestor",
]


def _relabeled(samples: DataFrame, relabel, labels: list) -> DataFrame:
    """Apply relabel rules (`operators.relabel`) to a decoded samples
    frame, then re-project onto the ingestor's declared label schema —
    the store's columns are fixed by ``label_names``, so rules may
    rewrite/route/drop within it and temp labels (``__tmp_*`` shard
    keys etc.) vanish at the projection; all column ops, no Python."""
    if not relabel:
        return samples
    from tsdb_parquet_spark.operators.relabel import apply_relabel

    out = apply_relabel(samples, relabel)
    for c in labels:
        if c not in out.columns:
            out = out.withColumn(c, F.lit(""))
    return out.select(*labels, "ts", "value")


def remote_write_spool_ingestor(
    spark: SparkSession,
    spool_dir: str,
    root: str,
    label_names: Sequence[str],
    chunk_span_ms: int = 24 * 3600 * 1000,
    compressed: bool = True,
    histograms: bool = False,
    path_glob: str | None = None,
    relabel=None,
    **ingestor_kwargs,
) -> tuple[StreamingChunkIngestor, DataFrame]:
    """(ingestor, stream) for a spool of remote-write POST bodies (one
    file per request; snappy-framed protobuf, v1 or v2 sniffed per
    payload).  Run with ``ingestor.ingest(stream)`` —
    ``availableNow=True`` drains the current spool and stops, the
    cron-friendly shape; pass ``available_now=False`` to follow live.
    For a MIXED spool (one receiver port serving remote-write AND OTLP)
    pass ``path_glob="req-*.bin"`` — the receiver's remote-write naming
    — so this ingestor skips the ``otlp-*`` bodies; the default takes
    every file, preserving custom-named spools.

    ``histograms=True`` additionally drains native histograms riding
    on the payloads, classic-expanded (`remote_write_histogram_frame`)
    and unioned with the float samples — ``label_names`` must then
    include ``"le"`` (float-sample rows carry ``le=""``, the
    missing-label convention), so `histogram_quantile` works straight
    off the store."""
    from tsdb_parquet_spark.remote_write import (
        remote_write_frame,
        remote_write_histogram_frame,
    )

    from tsdb_parquet_spark.names import escape_name

    labels = list(label_names)
    if histograms and "le" not in labels:
        raise ValueError(
            'histograms=True requires "le" in label_names (the classic '
            "expansion's bucket-bound label)"
        )
    # RAW names in, U__ value-encoded store columns out (identity for
    # classic names) — remote-write 2.0 symbols carry UTF-8 natively
    store_labels = [escape_name(n) for n in labels]

    def to_samples(batch: DataFrame) -> DataFrame:
        payloads = batch.select(F.col("content").alias("payload"))
        if not histograms:
            out = remote_write_frame(
                payloads, labels, compressed=compressed
            )
            return _relabeled(out, relabel, store_labels)
        plain = [c for c in labels if c != "le"]
        plain_cols = [escape_name(c) for c in plain]
        floats = remote_write_frame(
            payloads, plain, compressed=compressed
        ).withColumn("le", F.lit(""))
        hists = remote_write_histogram_frame(
            payloads, plain, compressed=compressed
        )
        out = floats.unionByName(
            hists.select(*plain_cols, "le", "ts", "value")
        )
        return _relabeled(out, relabel, store_labels)

    ingestor = StreamingChunkIngestor(
        spark, root, store_labels, to_samples, chunk_span_ms,
        **ingestor_kwargs
    )
    # binaryFile's schema is FIXED by the format but the streaming
    # source still demands it explicitly
    reader = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
    )
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    stream = reader.load(spool_dir)
    return ingestor, stream


def otlp_spool_ingestor(
    spark: SparkSession,
    spool_dir: str,
    root: str,
    label_names: Sequence[str],
    chunk_span_ms: int = 24 * 3600 * 1000,
    path_glob: str = "otlp-*.bin",
    relabel=None,
    translation: str = "underscores",
    **ingestor_kwargs,
) -> tuple[StreamingChunkIngestor, DataFrame]:
    """(ingestor, stream) for a spool of OTLP POST bodies (one file per
    ``POST /v1/metrics`` request; protobuf, gzip sniffed per payload —
    `otlp.otlp_frame`).  ``translation="no_utf8_escaping"`` keeps
    dotted/UTF-8 attribute names losslessly: pass the RAW names in
    ``label_names`` and the store's columns come out as their U__
    value-encoded forms (`names.py`), queryable via the quoted
    selector syntax.  The glob defaults to the receiver's
    ``otlp-<seq>.bin`` naming so a MIXED spool (remote-write ``req-*``
    next to OTLP ``otlp-*``, one receiver port serving both) drains
    each protocol through its own ingestor.  Include ``le`` /
    ``quantile`` in ``label_names`` when histogram or summary metrics
    ride the payloads — the expansion happens inside the decode, so
    ``histogram_quantile`` works straight off the store."""
    from tsdb_parquet_spark.names import escape_name
    from tsdb_parquet_spark.otlp import otlp_frame

    labels = list(label_names)
    # the STORE's label columns are the (possibly U__-escaped) forms
    store_labels = [escape_name(n) for n in labels]

    def to_samples(batch: DataFrame) -> DataFrame:
        payloads = batch.select(F.col("content").alias("payload"))
        return _relabeled(
            otlp_frame(payloads, labels, translation=translation),
            relabel,
            store_labels,
        )

    ingestor = StreamingChunkIngestor(
        spark, root, store_labels, to_samples, chunk_span_ms,
        **ingestor_kwargs
    )
    stream = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", path_glob)
        .load(spool_dir)
    )
    return ingestor, stream


def scrape_spool_ingestor(
    spark: SparkSession,
    spool_dir: str,
    root: str,
    label_names: Sequence[str],
    chunk_span_ms: int = 24 * 3600 * 1000,
    scrape_ts_ms: int | None = None,
    path_glob: str = "scrape-*.txt",
    relabel=None,
    **ingestor_kwargs,
) -> tuple[StreamingChunkIngestor, DataFrame]:
    """(ingestor, stream) for a spool of exposition-text captures (one
    file per ``GET /metrics`` body).  Lines without a timestamp take
    ``scrape_ts_ms`` (the receiver's scrape time) — with None they are
    dropped, since a sample needs a time.  The parse is the all-JVM
    ``scrape_samples`` plan.  The glob defaults to the scraper's
    ``scrape-<ts>-<idx>.txt`` publish naming."""
    from tsdb_parquet_spark.names import escape_name
    from tsdb_parquet_spark.scrape import scrape_samples

    labels = list(label_names)
    # RAW names in, U__ value-encoded store columns out (identity for
    # classic names) — the scrape_samples/otlp_frame contract
    store_labels = [escape_name(n) for n in labels]

    def to_samples(batch: DataFrame) -> DataFrame:
        bodies = batch.select(F.col("value").alias("body"))
        samples = scrape_samples(bodies, labels)
        if scrape_ts_ms is not None:
            samples = samples.withColumn(
                "ts", F.coalesce("ts", F.lit(scrape_ts_ms))
            )
        samples = samples.where(F.col("ts").isNotNull())
        return _relabeled(samples, relabel, store_labels)

    ingestor = StreamingChunkIngestor(
        spark, root, store_labels, to_samples, chunk_span_ms,
        **ingestor_kwargs
    )
    stream = (
        spark.readStream.format("text")
        .option("wholetext", "true")
        # belt-and-braces vs torn captures: the scraper publishes via
        # hidden-temp + rename, and this filter pins the drain to the
        # published names even if a foreign writer drops other files in
        .option("pathGlobFilter", path_glob)
        .load(spool_dir)
    )
    return ingestor, stream

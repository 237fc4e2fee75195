"""Structured Streaming ingestion into the sorted chunk layout (M4).

The reference ingests with a one-shot batch conversion of a TSDB block
(`cmd/convert/main.go:23-126`) — "online writes" are its acknowledged gap.
Here ingestion is a Structured Streaming pipeline:

    readStream (file/rate/kafka source)
      -> event-time watermark + exactly-once dedup on an event key
      -> per micro-batch: samples -> chunks (applyInPandas)
      -> foreachBatch sink: one sorted part per micro-batch
         (`db/writer.go:77-95` buffers 256Ki rows per part; our part = one
         micro-batch, sorted + range-partitioned by the layout contract)
    finalize(): compaction merges all parts into one globally sorted store
         and assigns dense series ids (`__series__id` is file-local
         identity — `schema/chunk.go:28-30` — so ids are assigned on the
         compacted file, mirroring the converter's single-writer id space,
         `cmd/convert/main.go:84-91`)

Scale: each micro-batch shuffles once (the chunk groupBy); parts accumulate
append-only; compaction is an idempotent background job — the same shape
works with a Kafka source and a 1000-executor cluster writing to object
storage.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from tsdb_parquet_spark.chunks import samples_to_chunks
from tsdb_parquet_spark.schema import sort_columns
from tsdb_parquet_spark.sources.writer import (
    SortedParquetWriter,
    WriterOptions,
)


class StreamingChunkIngestor:
    """Streams a samples source into sorted chunk parts.

    ``to_samples``: maps a raw micro-batch DataFrame to the samples shape
    (int64 ms ``ts``, double ``value``, string label columns).
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        label_columns: Sequence[str],
        to_samples: Callable[[DataFrame], DataFrame],
        chunk_span_ms: int,
        writer_options: WriterOptions | None = None,
    ):
        self.spark = spark
        self.labels = list(label_columns)
        self.to_samples = to_samples
        self.chunk_span_ms = chunk_span_ms
        opts = writer_options or WriterOptions(
            sort_columns=sort_columns(self.labels),
            bloom_columns=[c for c in self.labels if c != "__name__"],
            max_files=16,
        )
        self.writer = SortedParquetWriter(spark, root, opts)
        self.rows_ingested = None  # see _write_batch

    # -- sink ---------------------------------------------------------------

    def _write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        import os

        from tsdb_parquet_spark.sources.writer import write_sorted

        # foreachBatch is at-least-once: derive the part dir from batch_id
        # so a replayed micro-batch lands in the SAME directory.  A complete
        # replay (``_SUCCESS`` present) is skipped; a partial one is
        # overwritten by mode("overwrite") — together that makes the sink
        # idempotent, which is what upgrades at-least-once delivery to
        # exactly-once state in the store.
        part_dir = os.path.join(self.writer.root, f"part.{batch_id}")
        if os.path.exists(os.path.join(part_dir, "_SUCCESS")):
            # replayed batch: report the already-persisted part's row count
            # (footer metadata read, no data scan) instead of leaving the
            # previous batch's figure in place for monitoring to misread
            self.rows_ingested = self.spark.read.parquet(part_dir).count()
            self.writer.adopt(part_dir)
            return
        samples = self.to_samples(batch_df)
        chunks = samples_to_chunks(
            samples,
            self.labels,
            chunk_span_ms=self.chunk_span_ms,
            assign_series_ids=False,  # ids are assigned at compaction
        ).persist()
        try:
            # counting the cached chunks is one extra cheap action and buys
            # an exact partition count: a micro-batch that fits one part
            # skips the range shuffle entirely (coalesce + local sort)
            n = chunks.count()
            write_sorted(chunks, part_dir, self.writer.opts, n_rows=n)
            self.writer.adopt(part_dir)
            self.rows_ingested = n
        finally:
            chunks.unpersist()

    def ingest(
        self,
        stream: DataFrame,
        dedup_key: str | None = None,
        event_time_col: str | None = None,
        watermark: str = "1 day",
        available_now: bool = True,
    ):
        """Run the streaming job.  With ``dedup_key`` the stream is
        deduplicated exactly-once within the watermark (late/duplicate
        delivery protection the batch reference cannot express)."""
        if dedup_key is not None:
            if event_time_col is not None:
                # dropDuplicatesWithinWatermark keys state on dedup_key but
                # still evicts entries once the watermark passes their event
                # time — plain dropDuplicates([key]) would hold every key
                # forever on a long-running stream
                stream = stream.withWatermark(event_time_col, watermark)
                stream = stream.dropDuplicatesWithinWatermark([dedup_key])
            else:
                stream = stream.dropDuplicates([dedup_key])
        writer = (
            stream.writeStream.foreachBatch(self._write_batch)
            .option("checkpointLocation", f"{self.writer.root}/_checkpoint")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        query = writer.start()
        if available_now:
            query.awaitTermination()
        return query

    # -- finalize -----------------------------------------------------------

    def finalize(self) -> str:
        """Compact all parts — and any prior compacted output — into a
        fresh versioned ``compact.N`` with dense series ids assigned over
        the full union, then atomically swap the stable alias.

        Crash/reader safety: the merge never writes into a directory a
        reader could hold open (fresh ``compact.N`` + the writer's atomic
        alias swap — a crash mid-write leaves the previous complete
        version live).  A prior compact from a periodic ``maybe_compact``
        during ingestion is INCLUDED in the merge (its parts are already
        folded, so its rows exist nowhere else); a prior finalize's
        output has its series-id column stripped first, since ids must be
        dense over the new union.

        Concurrency: a micro-batch of a still-running stream can adopt()
        a part at any point.  Each pass folds exactly the parts it read,
        publishes, and re-checks — a straggler landing mid-merge is
        picked up by the next pass; one landing after the last publish
        stays live in the manifest via its own adopt() publish (rows
        safe, compacted by a later cycle).  A stream that keeps landing
        parts for 20 passes fails loudly: finalize() is for a
        stopped/availableNow stream."""
        import os

        from tsdb_parquet_spark.chunks import dense_series_ids
        from tsdb_parquet_spark.schema import SERIES_ID
        from tsdb_parquet_spark.sources.writer import write_sorted

        w = self.writer
        # idempotence: a second finalize() on an already-quiescent store
        # (no live parts, and the current compact is a finalize output —
        # marked by its SERIES_ID column) must be a no-op, not a full
        # rewrite into a fresh compact.N that doubles on-disk data until
        # vacuum.  Schema-only read: just the parquet footer.
        if not list(w.part_dirs):
            prev = w._resolve_compact()
            if prev is not None and SERIES_ID in self.spark.read.parquet(
                prev
            ).columns:
                return prev
        path: str | None = None
        for _pass in range(20):
            parts = list(w.part_dirs)
            if path is not None and not parts:
                return path  # quiescent: this call's compact holds all
            prev = w._resolve_compact()
            frames = []
            if parts:
                frames.append(self.spark.read.parquet(*parts))
            if prev is not None:
                pf = self.spark.read.parquet(prev)
                if SERIES_ID in pf.columns:
                    pf = pf.drop(SERIES_ID)
                frames.append(pf)
            if not frames:
                raise ValueError(
                    "finalize: no ingested parts to compact (did the "
                    "stream write anything?)"
                )
            df = frames[0]
            for f in frames[1:]:
                df = df.unionByName(f)
            ids = dense_series_ids(
                df.select(*self.labels).distinct(), self.labels
            )
            # no broadcast hint: the id table is one row per distinct
            # series and can exceed driver memory at 100M+ series — let
            # AQE pick broadcast when it is actually small
            merged = df.join(ids, on=self.labels, how="inner")
            out = os.path.join(w.root, f"compact.{w._next_compact}")
            w._next_compact += 1
            path = write_sorted(merged, out, w.opts)
            w._swap_alias(out)
            w.mark_folded(parts)
            # manifest: the new compact plus any parts that landed during
            # the merge (still live; the next pass or cycle folds them)
            w._publish()
        raise RuntimeError(
            "finalize: parts kept landing for 20 merge passes — "
            "finalize() is for a stopped/availableNow stream; stop "
            "the continuous query first"
        )

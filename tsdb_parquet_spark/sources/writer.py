"""Sorted-Parquet write path + compaction (reference S5/S6).

The reference buffers <=256Ki rows, sorts by (`__name__`, `__mint`,
`__maxt`, labels...), and writes `part.N.parquet` with zstd, dictionary
encoding, a split-block bloom filter per label column, 8 KiB pages and page
statistics (`db/writer.go:44-58`, `169-216`, `198-208`); `Compact()` k-way
merges all parts into one globally sorted file (`db/writer.go:97-159`).

Spark-first translation:

- a *part* is one sorted Parquet file per shuffle partition:
  ``repartitionByRange(sort_cols)`` (range-partition so files tile the key
  space — the property the reference gets from buffering+sorting) then
  ``sortWithinPartitions`` — each output file is internally sorted AND
  files are disjoint in key range, which is what makes min/max pruning
  effective across a 100 TB table;
- *compaction* is the same job re-run over many part directories — Spark's
  shuffle-backed sort replaces the explicit k-way merge and spills to disk
  instead of OOMing;
- bloom filters / page size / statistics are plain parquet-hadoop writer
  options — no custom code, and the read side (Spark's vectorized reader)
  exploits them automatically, which covers the reference's whole pruning
  stack (P8-P13).

At 100 TB: ``target_partitions`` scales the file count (aim for ~512 MB-1 GB
files); range partitioning keeps every query's predicate on the sort prefix
touching a small, contiguous subset of files.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

# Reference writer constants (`db/writer.go:19-22`): 8 KiB pages, 256Ki-row
# parts.  Small pages buy fine-grained zone-map pruning at the cost of
# metadata volume; both are configurable per table.
REFERENCE_PAGE_SIZE = 8 * 1024
REFERENCE_PART_ROWS = 256 * 1024

# The chunk payload arrays (``__ts``/``__values``) need much larger pages
# than the reference's label-sized ones: zstd compresses each page on its
# own, and an 8 KiB page holds only a few chunks' samples.  The values'
# Parquet leaf also skips the dictionary, which pays only for repeated
# values.  See FIXTURES.md (F1) for the measurements behind both.
DEFAULT_PAGE_SIZE = 1024 * 1024
VALUES_LEAF = "__values.list.element"


@dataclass
class WriterOptions:
    sort_columns: list[str]
    bloom_columns: list[str] = field(default_factory=list)
    compression: str = "zstd"
    page_size: int = DEFAULT_PAGE_SIZE
    dictionary: bool = True
    rows_per_part: int = REFERENCE_PART_ROWS
    max_files: int | None = None  # cap on output files (partitions)
    #: columns to force out of dictionary encoding.  parquet-java skips the
    #: bloom filter when a column chunk is fully dictionary-encoded (the
    #: dictionary is already an exact membership filter); at 100 TB high-
    #: cardinality label columns overflow the dictionary and blooms kick in
    #: automatically, but tests / known-high-cardinality columns can force it.
    no_dictionary_columns: list[str] = field(default_factory=list)
    #: hive-style partition columns (e.g. a derived day column): at 100 TB
    #: the driver prunes whole directories before any footer is read —
    #: coarser and cheaper than row-group zone maps
    partition_by: list[str] = field(default_factory=list)
    #: parquet row-group byte target (parquet.block.size).  None keeps the
    #: parquet-java default (128 MiB); smaller groups buy finer row-group
    #: zone-map pruning at more footer metadata — the same trade the
    #: reference makes at page level with its 8 KiB pages
    row_group_bytes: int | None = None

    def apply(self, writer):
        writer = (
            writer.option("compression", self.compression)
            .option("parquet.page.size", str(self.page_size))
            .option("parquet.enable.dictionary", str(self.dictionary).lower())
            # page-level statistics for zone-map pruning
            # (`db/writer.go:205` parquet.DataPageStatistics(true))
            .option("parquet.page.write-checksum.enabled", "false")
        )
        if self.row_group_bytes:
            writer = writer.option(
                "parquet.block.size", str(self.row_group_bytes)
            )
        for col in self.bloom_columns:
            # split-block bloom filter per label column
            # (`db/writer.go:55-58`, 10 bits/value)
            writer = writer.option(f"parquet.bloom.filter.enabled#{col}", "true")
        for col in [*self.no_dictionary_columns, VALUES_LEAF]:
            writer = writer.option(f"parquet.enable.dictionary#{col}", "false")
        return writer


# Catalyst default sizes (EstimationUtils.getSizePerRow mirrors these):
# used to turn a plan sizeInBytes estimate into an approximate row count
# when neither the caller nor the CBO knows the exact one.
_TYPE_BYTES = {
    "boolean": 1, "byte": 1, "short": 2, "integer": 4, "long": 8,
    "float": 4, "double": 8, "date": 4, "timestamp": 8,
    "timestamp_ntz": 8, "string": 20, "binary": 100,
    # the chunk payload pair (__ts, __values) weighs what the blob it
    # replaced did, so chunk stores size their files as before
    "array": 50,
}

#: the least plan-estimated bytes per output file when a partition count
#: comes from plan statistics (see ``_partition_count``)
MIN_FILE_BYTES = 8 << 20

# Catalyst marks an unknown relation size with spark.sql.defaultSizeInBytes
# (Long.MaxValue by default) and propagates it through joins/unions — any
# estimate in that region is a sentinel, not a measurement.
_SIZE_UNKNOWN = 1 << 60


def _est_row_bytes(df: DataFrame) -> int:
    return 8 + sum(
        _TYPE_BYTES.get(f.dataType.typeName(), 20) for f in df.schema.fields
    )


def _compression_factor(spark: SparkSession) -> float:
    """In-memory bytes per file byte for a file relation's size estimate.
    File-relation sizeInBytes is COMPRESSED file bytes while
    ``_est_row_bytes`` is the in-memory Catalyst width — the mismatch
    ``spark.sql.sources.fileCompressionFactor`` exists for.  An explicit
    setting is honored, 1.0 included; unset, 4x is a representative
    parquet+zstd ratio for telemetry rows (measured 4.06x on the shipped
    events table)."""
    factor = spark.conf.get("spark.sql.sources.fileCompressionFactor", None)
    return 4.0 if factor is None else float(factor)


def _partition_count(
    df: DataFrame, opts: WriterOptions, n_rows: int | None = None
) -> int:
    # Estimate parts from the known row count (caller-provided) or the
    # plan's row-count statistic so a 100 TB input yields proportionally
    # many files.  When only sizeInBytes is known, derive the row count
    # from it (guide §6.2: size the output from the input, not from the
    # session's shuffle parallelism — the old fallback wrote
    # shuffle-partitions-many tiny files locally and would UNDER-size a
    # 100 TB write the same way).  The shuffle parallelism remains only
    # as the last resort when the plan carries Catalyst's unknown-size
    # sentinel (streams, some RDD scans).
    #
    # Plan statistics are estimates, and narrow rows turn a loose byte
    # estimate into a huge row count (a spark.range-derived store once
    # asked for ~24,000 files): unless the caller counted the rows, the
    # count is also capped so every file carries at least
    # ``MIN_FILE_BYTES`` of the plan's byte estimate.
    counted = n_rows is not None
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        size = int(stats.sizeInBytes())
    except Exception:
        stats, size = None, _SIZE_UNKNOWN
    if n_rows is None and stats is not None:
        try:
            n_rows = int(stats.rowCount().get())
        except Exception:
            n_rows = None
    size_known = 0 <= size < _SIZE_UNKNOWN
    estimated = False
    if n_rows is None and size_known:
        n_rows = max(
            1,
            int(size * _compression_factor(df.sparkSession)) // _est_row_bytes(df),
        )
        estimated = True
    if n_rows is not None:
        parts = max(1, (n_rows + opts.rows_per_part - 1) // opts.rows_per_part)
        if not counted and size_known:
            parts = min(parts, max(1, -(-size // MIN_FILE_BYTES)))
        if estimated and parts < (
            cores := df.sparkSession.sparkContext.defaultParallelism
        ):
            # A write smaller than cores x rows_per_part would otherwise
            # run 1..few tasks and serialize the sort+encode (guide
            # §2.6: don't leave the cluster idle for the tail).  Spread
            # it across the session's cores, but never below
            # rows_per_part/32 rows per file so the floor cannot
            # recreate the tiny-file regime — and only on the ESTIMATED
            # path: a caller-counted n_rows keeps its exact contract
            # sizing (including the single-part coalesce fast path
            # below).  At 100 TB the contract count exceeds any core
            # count and this clause is a no-op.
            min_rows = max(1, opts.rows_per_part // 32)
            parts = max(parts, min(cores, (n_rows + min_rows - 1) // min_rows))
    else:
        parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    if opts.max_files:
        parts = min(parts, opts.max_files)
    return parts


def write_sorted(
    df: DataFrame,
    out_dir: str,
    opts: WriterOptions,
    n_rows: int | None = None,
) -> str:
    """S5 — write ``df`` as range-partitioned, internally sorted parquet
    parts honoring the reference layout contract (`db/writer.go:169-216`).

    A ``__chunk_bytes`` blob input (an import: converted blocks, a
    reference-written file) is written with the ``__ts``/``__values``
    payload (`chunks.with_sample_arrays`).

    ``n_rows``: exact input size when the caller already knows it (e.g. a
    counted+cached micro-batch).  A batch that fits one part then skips the
    range shuffle entirely — ``coalesce(1)`` + in-partition sort produces
    the same single globally sorted file without an exchange.
    """
    from tsdb_parquet_spark.chunks import with_sample_arrays

    n = _partition_count(df, opts, n_rows=n_rows)
    sort_cols = [c for c in opts.sort_columns if c in df.columns]
    shuffle_cols = [c for c in opts.partition_by if c in df.columns] + [
        c for c in sort_cols if c not in opts.partition_by
    ]
    if opts.partition_by:
        # the file writer re-sorts by the partition columns unless the
        # plan's ordering proves them sorted, which a Python projection
        # above the sort does not — convert blobs before sorting instead
        df = with_sample_arrays(df)
    if shuffle_cols and n == 1 and n_rows is not None and not opts.partition_by:
        df = df.coalesce(1).sortWithinPartitions(*shuffle_cols)
    elif shuffle_cols:
        df = df.repartitionByRange(n, *shuffle_cols).sortWithinPartitions(
            *shuffle_cols
        )
    # blob inputs (imports) become the array payload AFTER the range
    # shuffle and sort: converting first would also run the conversion
    # in the range partitioner's sampling job, a second full pass
    df = with_sample_arrays(df)
    writer = opts.apply(df.write.mode("overwrite"))
    if opts.partition_by:
        writer = writer.partitionBy(*opts.partition_by)
    writer.parquet(out_dir)
    return out_dir


def _read_frames(spark: SparkSession, paths: list[str]) -> list[DataFrame]:
    from tsdb_parquet_spark.chunks import with_sample_arrays
    from tsdb_parquet_spark.schema import CHUNK_BYTES

    frames = [spark.read.parquet(p) for p in paths]
    if len({CHUNK_BYTES in f.columns for f in frames}) > 1:
        frames = [with_sample_arrays(f) for f in frames]
    return frames


def read_roots(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Read several dataset roots as one DataFrame, per-root reads
    unioned.  Several hive-partitioned roots in ONE ``read.parquet`` call
    trip partition discovery ("Suspicious paths"); per-root reads keep
    each root's partition column intact.  Shared by ``compact`` and
    ``manifest.read_snapshot`` so the workaround can't diverge.  Roots
    that disagree on the chunk payload (a blob store written before the
    array layout, appended to since) are all read as arrays."""
    frames = _read_frames(spark, paths)
    df = frames[0]
    for f in frames[1:]:
        df = df.unionByName(f)
    return df


def live_store_dirs(root: str) -> list[str]:
    """The store's LIVE directory set, for readers that open a store by
    root path (``tsdb_wal.live_samples_frame``, ad-hoc tooling).

    The latest snapshot manifest is authoritative when one exists — it
    lists exactly the live parts plus the current ``compact.N`` target,
    so superseded ``compact.N-1`` versions, folded parts awaiting
    vacuum, and the ``compact`` alias symlink (which would double-read
    its target) are all excluded.  Pre-snapshot stores (no manifest)
    fall back to every ``part.*`` dir plus the resolved compact alias:
    in that layout compaction overwrote a single plain ``compact`` dir
    in place, so no stale versions exist to double-read."""
    from tsdb_parquet_spark.sources.manifest import current_snapshot

    snap = current_snapshot(root)
    if snap is not None:
        return [p for p in snap.absolute(root) if os.path.isdir(p)]
    paths = sorted(
        os.path.join(root, d)
        for d in os.listdir(root)
        if d.startswith("part.") and not d.endswith(".tmp")
        and os.path.isdir(os.path.join(root, d))
    )
    alias = os.path.join(root, SortedParquetWriter.COMPACT_ALIAS)
    if os.path.islink(alias):
        target = os.path.join(root, os.readlink(alias))
        if os.path.exists(os.path.join(target, "_SUCCESS")):
            paths.append(target)
    elif os.path.exists(os.path.join(alias, "_SUCCESS")):
        paths.append(alias)
    return paths


def compact(
    spark: SparkSession,
    part_dirs: list[str] | str,
    out_dir: str,
    opts: WriterOptions,
) -> str:
    """S6 — merge many sorted part directories into one globally sorted
    dataset (`db/writer.go:97-159`).  Spark's range-shuffle sort subsumes
    the reference's k-way merge (`parquet.MergeRowGroups`) and spills
    instead of holding everything in memory.

    Mixed series-id schemas: block-origin parts carry ``__series__id``
    (ordinal-tagged) while streaming/WAL-sync parts defer ids to
    compaction — a store fed by BOTH (``cli sync`` on a live data dir
    does exactly this) merges by dropping the column and assigning
    dense ids over the union, which the identity contract permits:
    ``__series__id`` is file-local (`schema/chunk.go:28-30`) and the
    compacted output IS a new file."""
    from tsdb_parquet_spark.schema import SERIES_ID, label_columns

    paths = [part_dirs] if isinstance(part_dirs, str) else list(part_dirs)
    frames = _read_frames(spark, paths)
    has_id = [SERIES_ID in f.columns for f in frames]
    if any(has_id) and not all(has_id):
        from tsdb_parquet_spark.chunks import dense_series_ids

        df = frames[0].drop(SERIES_ID)
        for f in frames[1:]:
            df = df.unionByName(f.drop(SERIES_ID))
        labels = label_columns(df.schema)
        ids = dense_series_ids(df.select(*labels).distinct(), labels)
        df = df.join(ids, on=labels, how="inner")
        return write_sorted(df, out_dir, opts)
    return write_sorted(read_roots(spark, paths), out_dir, opts)


class SortedParquetWriter:
    """Buffered writer facade mirroring `db.Writer` (`db/writer.go:60-95`):
    ``write(df)`` appends a sorted part directory, ``compact()`` merges all
    parts written so far.  Parts live under ``root/part.N``; the compacted
    output under ``root/compact``."""

    COMPACT_ALIAS = "compact"

    def __init__(self, spark: SparkSession, root: str, opts: WriterOptions):
        self.spark = spark
        self.root = root
        self.opts = opts
        #: part dirs included in the most recent ``compact()`` merge.  A
        #: periodic cleanup job must delete exactly this list — re-listing
        #: ``part_dirs`` after the merge would also catch parts landed by a
        #: concurrent micro-batch *between* merge and delete, losing them.
        self.last_compacted_parts: list[str] = []
        os.makedirs(root, exist_ok=True)
        existing = [
            int(d.split(".", 1)[1])
            for d in os.listdir(root)
            if d.startswith("part.") and d.split(".", 1)[1].isdigit()
        ]
        self._next_part = max(existing) + 1 if existing else 0
        compacts = [
            int(d.split(".", 1)[1])
            for d in os.listdir(root)
            if d.startswith("compact.") and d.split(".", 1)[1].isdigit()
        ]
        self._next_compact = max(compacts) + 1 if compacts else 0
        self._live_parts: list[str] = self._discover_parts()

    def _discover_parts(self) -> list[str]:
        """Live (un-compacted) part dirs.  The latest manifest is the source
        of truth when one exists: a part on disk but absent from it was
        folded by a compaction and awaits vacuum — re-adopting it would
        double-count its rows.  Stores from before the snapshot layout have
        no manifest and every on-disk part is live."""
        from tsdb_parquet_spark.sources.manifest import current_snapshot

        disk = [
            os.path.join(self.root, d)
            for d in sorted(os.listdir(self.root))
            if d.startswith("part.")
        ]
        snap = current_snapshot(self.root)
        if snap is None:
            self._folded_parts: set[str] = set()
            return disk
        live = {
            p for p in snap.paths if os.path.basename(p).startswith("part.")
        }
        # parts on disk but excluded by the authoritative manifest were
        # folded by a compaction and await vacuum; remember them so a
        # replayed streaming batch can't adopt() one back in
        self._folded_parts = {
            p for p in disk if os.path.basename(p) not in live
        }
        return [p for p in disk if os.path.basename(p) in live]

    def _publish(self) -> int:
        """Publish the live logical directory set (compact alias target +
        live parts) as a new snapshot manifest."""
        from tsdb_parquet_spark.sources.manifest import publish_snapshot

        rel: list[str] = []
        target = self._resolve_compact()
        if target:
            rel.append(os.path.basename(target))
        rel += [os.path.basename(p) for p in self._live_parts]
        return publish_snapshot(self.root, rel)

    @property
    def part_dirs(self) -> list[str]:
        return sorted(self._live_parts)

    def write(self, df: DataFrame) -> str:
        part_dir = os.path.join(self.root, f"part.{self._next_part}")
        self._next_part += 1
        out = write_sorted(df, part_dir, self.opts)
        self.adopt(part_dir)
        return out

    def adopt(self, part_dir: str) -> None:
        """Register an externally written part directory as live.  The
        streaming sink writes its own ``part.<batch_id>`` dirs (the batch
        id keys idempotent replay) and adopts them here so the manifest
        and ``part_dirs`` stay authoritative; re-adopting (a replayed
        micro-batch) is a no-op — including a part a compaction has
        ALREADY FOLDED (on disk awaiting vacuum, excluded from the
        manifest): resurrecting one would double-count its rows against
        the compacted copy."""
        if part_dir in self._folded_parts:
            return
        if part_dir not in self._live_parts:
            self._live_parts.append(part_dir)
            self._publish()

    def _swap_alias(self, out: str) -> None:
        """Atomically repoint the stable ``root/compact`` alias at the
        versioned directory ``out``: a one-inode ``os.replace`` of a
        symlink (a manifest-pointer PUT on an object store).  A legacy
        real-dir alias (pre-snapshot layout) is retired first — the one
        non-atomic step, taken once per store ever.  Shared by
        ``compact()`` and the streaming ingestor's ``finalize()`` so a
        reader mid-scan on the previous version always finishes
        undisturbed, whichever path produced the new compact."""
        alias = os.path.join(self.root, self.COMPACT_ALIAS)
        if os.path.islink(alias):
            link_tmp = os.path.join(self.root, ".compact.alias.tmp")
            if os.path.islink(link_tmp):
                os.remove(link_tmp)
            os.symlink(os.path.basename(out), link_tmp)
            os.replace(link_tmp, alias)
        else:
            shutil.rmtree(alias, ignore_errors=True)
            os.symlink(os.path.basename(out), alias)

    def mark_folded(self, parts: set[str] | list[str]) -> None:
        """Record that ``parts`` were folded into a compacted output:
        they leave the live set and join the folded set, so a replayed
        micro-batch's ``adopt()`` in THIS process is a no-op (the
        restart path learns the same from the manifest via
        ``_discover_parts``).  The single home of the folded-part
        invariant — both the writer's own ``compact()`` and the
        streaming ingestor's ``finalize()`` go through here."""
        parts = set(parts)
        self._live_parts = [p for p in self._live_parts if p not in parts]
        self._folded_parts |= parts

    def _resolve_compact(self) -> str | None:
        """The current compacted dataset's REAL directory, or None.  The
        alias may be a symlink (post-snapshot layout) or a plain directory
        (stores written before versioned compaction)."""
        alias = os.path.join(self.root, self.COMPACT_ALIAS)
        if os.path.islink(alias):
            target = os.path.join(self.root, os.readlink(alias))
            return target if os.path.exists(
                os.path.join(target, "_SUCCESS")
            ) else None
        if os.path.exists(os.path.join(alias, "_SUCCESS")):
            return alias
        return None

    def compact(self) -> str:
        """Merge all current parts PLUS the previous compaction output (if
        any) into a fresh versioned ``root/compact.N`` directory, then
        atomically repoint the stable ``root/compact`` alias at it.

        Including the prior compact output makes repeated part->compact
        cycles lossless (a periodic ``maybe_compact`` job deletes parts
        after each merge — without this the next cycle would overwrite the
        survivors).  Compaction never writes into a directory a reader
        could already hold open: each merge gets a fresh ``compact.N``, the
        alias swap is a one-inode atomic rename (`os.replace` of a
        symlink; a manifest-pointer PUT on an object store), and the
        retired ``compact.N-1`` stays on disk until ``vacuum_snapshots``'s
        grace window passes — a reader mid-scan on the old snapshot
        finishes undisturbed.  A crash mid-merge leaves the alias and
        manifest on the previous complete version."""
        parts = self.part_dirs
        self.last_compacted_parts = parts
        consumed = set(parts)
        prev = self._resolve_compact()
        inputs = parts + ([prev] if prev else [])
        out = os.path.join(self.root, f"compact.{self._next_compact}")
        self._next_compact += 1
        shutil.rmtree(out, ignore_errors=True)
        compact(self.spark, inputs, out, self.opts)
        self._swap_alias(out)
        # the merged parts leave the live set NOW (their rows live on in
        # compact.N); parts landed by a concurrent micro-batch during the
        # merge stay live for the next cycle, while consumed parts join
        # the folded set so a same-process replayed micro-batch cannot
        # adopt() one back in (double-count vs the compacted copy)
        self.mark_folded(consumed)
        self._publish()
        return out

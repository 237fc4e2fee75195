"""Store maintenance: compaction policy + time-based retention.

The reference compacts once, manually, at conversion end
(`cmd/convert/main.go:123-125`) and has no retention story.  A long-running
store needs both as periodic jobs:

- ``maybe_compact``: merge accumulated streaming parts once they exceed a
  threshold (keeps read amplification bounded without compacting after
  every micro-batch);
- ``retention_sweep``: drop whole day partitions older than the horizon —
  an O(1)-per-partition directory delete, which is the reason the store is
  day-partitioned in the first place (no rewrite, no tombstones).
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import unquote, urlparse

from pyspark.sql import SparkSession

from tsdb_parquet_spark.sources.writer import SortedParquetWriter

DAY_MS = 86_400_000


def maybe_compact(
    writer: SortedParquetWriter,
    max_parts: int = 8,
    defer_cleanup: bool = False,
) -> str | None:
    """Compact when the part count exceeds ``max_parts``; returns the
    compact dir when compaction ran, else None.

    Safe to run periodically beside a live ingestor: ``compact`` folds the
    previous compaction output into the merge, and the cleanup below
    deletes exactly the parts that merge consumed
    (``writer.last_compacted_parts``) — never a re-listed set, so a part
    landed by a concurrent micro-batch between the merge and the delete
    survives for the next cycle.

    With ``defer_cleanup=True`` nothing is deleted here: consumed parts
    (and the retired ``compact.N-1``) stay on disk, dropped out of the
    published manifest, until a later ``manifest.vacuum_snapshots`` call —
    the mode to use when concurrent READERS may hold a pre-compaction
    snapshot open (they finish their scan on the retired files)."""
    if len(writer.part_dirs) <= max_parts:
        return None
    compact_dir = writer.compact()
    if not defer_cleanup:
        for part in writer.last_compacted_parts:
            shutil.rmtree(part, ignore_errors=True)
        # retire superseded compact versions (alias already moved on)
        current = os.path.basename(compact_dir)
        for entry in os.listdir(writer.root):
            if (
                entry.startswith("compact.")
                and entry != current
                and entry.split(".", 1)[1].isdigit()
            ):
                shutil.rmtree(
                    os.path.join(writer.root, entry), ignore_errors=True
                )
    return compact_dir


def retention_sweep(
    store_dir: str, now_ms: int, keep_days: int
) -> list[str]:
    """Delete ``__day=N`` partition directories entirely before the
    horizon.  Returns the removed partition names.  Only valid on stores
    written with ``WriterOptions.partition_by=["__day"]``."""
    cutoff_day = (now_ms // DAY_MS) - keep_days
    removed = []
    for entry in sorted(os.listdir(store_dir)):
        if not entry.startswith("__day="):
            continue
        try:
            day = int(entry.split("=", 1)[1])
        except ValueError:
            continue
        if day < cutoff_day:
            shutil.rmtree(os.path.join(store_dir, entry))
            removed.append(entry)
    return removed


def vacuum_store(
    spark: SparkSession, store_dir: str, now_ms: int, keep_days: int
) -> dict:
    """Retention sweep + a read-back sanity count; the periodic maintenance
    entry point."""
    removed = retention_sweep(store_dir, now_ms, keep_days)
    remaining = spark.read.parquet(store_dir).count() if _has_data(store_dir) else 0
    return {"removed_partitions": removed, "remaining_chunks": remaining}


def _has_data(store_dir: str) -> bool:
    for _root, _dirs, files in os.walk(store_dir):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def delete_samples(
    spark: SparkSession,
    store_root: str,
    matchers,
    mint: int,
    maxt: int,
    label_names=None,
    writer_opts=None,
) -> dict:
    """Store-side sample deletion — the Prometheus delete-series admin
    API / ``thanos tools bucket rewrite --delete`` analog the sync
    report's ``retro_stones`` remedy points at: drop every sample of
    series matching ``matchers`` (a list of `operators.selection.
    Matcher`) inside the CLOSED interval ``[mint, maxt]`` ms.

    Scale shape — only directories that actually hold affected chunks
    are rewritten; everything else keeps its existing bytes and manifest
    entry:

    1. per live directory, a pushdown PROBE (``limit(1)`` under the
       matcher + time-overlap predicate) decides touched vs untouched —
       bloom/zone-map pruning answers it from footers for the common
       all-miss case, so a delete touching one day of one series probes
       a 100 TB store without scanning it;
    2. each touched directory rewrites to a fresh versioned directory:
       untouched rows pass through unchanged; affected chunks drop
       their in-interval samples with a JVM higher-order ``filter`` over
       the zipped ``__ts``/``__values`` arrays, with recomputed
       ``__mint``/``__maxt``, and chunks left empty vanish — no sample
       leaves the JVM;
    3. the store publishes a new snapshot via the writer's own
       machinery (``adopt``/``mark_folded``/alias swap), so pinned
       readers finish on the old version and ``vacuum_snapshots``
       reclaims retired directories after the grace window.

    Returns ``{"rewritten": [...], "untouched": n, "samples_deleted":
    n}``.  The interval is closed like Prometheus tombstone intervals
    (`tombstones.Interval.InBounds`).
    """
    from pyspark.sql import functions as F

    from tsdb_parquet_spark.chunks import sample_structs, with_sample_arrays
    from tsdb_parquet_spark.operators.selection import conjunction
    from tsdb_parquet_spark.schema import (
        MAX_T,
        MIN_T,
        TS_ARRAY,
        VALUES_ARRAY,
        label_columns,
        sort_columns,
    )
    from tsdb_parquet_spark.sources.writer import (
        WriterOptions,
        live_store_dirs,
        write_sorted,
    )

    mint, maxt = int(mint), int(maxt)
    dirs = live_store_dirs(store_root)
    if not dirs:
        raise FileNotFoundError(f"no live store dirs under {store_root}")
    match_pred = conjunction([m.to_column() for m in matchers])
    # chunk OVERLAPS the interval (not containment — a chunk partially
    # inside still holds samples to delete)
    overlap = (F.col(MIN_T) <= F.lit(maxt)) & (F.col(MAX_T) >= F.lit(mint))
    pred = match_pred & overlap

    # ONE probe job for the whole store, never one per directory: scan
    # every live dir together (footer bloom/zone-map pruning still
    # answers the all-miss case row-group by row-group), project the
    # payload column AWAY (ReadSchema = filter columns only), and group
    # matching rows by source file — a thousand-dir farm probes in a
    # single job instead of a thousand sequential driver round-trips.
    # The job-group tag makes the "exactly one probe job" contract
    # observable (tests/test_maintenance.py pins it).
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "tsdb.delete_probe")
    try:
        hit_files = [
            r["__f"]
            for r in spark.read.parquet(*dirs)
            .filter(pred)
            .select(F.input_file_name().alias("__f"))
            .distinct()
            .collect()
        ]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # realpath, not abspath: Spark reports symlink-RESOLVED file paths
    # (e.g. /tmp -> /private/tmp), so an unresolved prefix never matches
    # and every hit would trip the unattributable-hit raise below
    prefixes = [
        (os.path.realpath(d).rstrip(os.sep) + os.sep, d) for d in dirs
    ]
    touched: set = set()
    for f in hit_files:
        p = urlparse(f)
        path = unquote(p.path) if p.scheme else f
        path = os.path.realpath(path)
        for prefix, d in prefixes:
            if path.startswith(prefix):
                touched.add(d)
                break
        else:
            # a hit we cannot attribute must FAIL the pass, not
            # silently skip the rewrite and report success
            raise RuntimeError(
                f"delete_samples: probe hit {f!r} maps to no live "
                "store dir — URI/path mismatch"
            )

    writer = None
    rewritten: list[str] = []
    untouched = len(dirs) - len(touched)
    deleted_total = 0
    seq: int | None = None
    for d in dirs:
        if d not in touched:
            continue
        # a blob-payload dir (written before the array layout) is
        # rewritten with the arrays like any import
        df = with_sample_arrays(spark.read.parquet(d))
        if label_names is None:
            label_names = label_columns(df.schema)
        opts = writer_opts or WriterOptions(
            sort_columns=sort_columns(list(label_names)),
            bloom_columns=[c for c in label_names if c != "__name__"],
            max_files=16,
        )
        if writer is None:
            from tsdb_parquet_spark.sources.writer import (
                SortedParquetWriter,
            )

            writer = SortedParquetWriter(spark, store_root, opts)
        keep = df.filter(~pred)
        kept_samples = F.filter(
            sample_structs(),
            lambda s: (s["ts"] < F.lit(mint)) | (s["ts"] > F.lit(maxt)),
        )
        edited = (
            df.filter(pred)
            .withColumn("__kept", kept_samples)
            .filter(F.size("__kept") > 0)
            .withColumn(TS_ARRAY, F.col("__kept")["ts"])
            .withColumn(VALUES_ARRAY, F.col("__kept")["value"])
            .withColumn(MIN_T, F.element_at("__kept", 1)["ts"])
            .withColumn(MAX_T, F.element_at("__kept", -1)["ts"])
            .drop("__kept")
        )
        new_df = keep.unionByName(edited)
        # exact audit count: in-interval samples inside touched chunks
        n_del = (
            df.filter(pred)
            .select(
                F.sum(
                    F.size(
                        F.filter(
                            F.col(TS_ARRAY),
                            lambda t: (t >= F.lit(mint)) & (t <= F.lit(maxt)),
                        )
                    )
                ).alias("n")
            )
            .collect()[0]["n"]
        )
        base = os.path.basename(d)
        if base.startswith("part."):
            # collision-free across repeated delete calls: number past
            # the MAX part.del index on disk (live or awaiting vacuum),
            # like _next_part/_next_compact — a count would collide
            # after vacuum removes a lower-numbered dir while a higher
            # one survives, and the overwrite would clobber a dir a
            # pinned reader may still hold open
            if seq is None:
                idxs = []
                for x in os.listdir(store_root):
                    if x.startswith("part.del") and x[8:].isdigit():
                        idxs.append(int(x[8:]))
                seq = max(idxs, default=-1) + 1
            out = os.path.join(store_root, f"part.del{seq:08d}")
            seq += 1
            write_sorted(new_df, out, opts)
            writer.mark_folded({d})
            writer.adopt(out)
        else:
            # the compact target: rewrite to a fresh version + alias swap
            out = os.path.join(
                store_root, f"compact.{writer._next_compact}"
            )
            writer._next_compact += 1
            shutil.rmtree(out, ignore_errors=True)
            write_sorted(new_df, out, opts)
            writer._swap_alias(out)
            writer._publish()
        rewritten.append(out)
        deleted_total += int(n_del or 0)
    return {
        "rewritten": rewritten,
        "untouched": untouched,
        "samples_deleted": deleted_total,
    }


def apply_retro_tombstones(
    spark: SparkSession,
    wal_dir: str,
    store_root: str,
    label_names,
    writer_opts=None,
) -> dict:
    """Close the retro-deletion loop `sync_wal` reports: resolve every
    WAL delete-API tombstone to its label set (via the store's
    persisted ``_wal_series`` side table — a tiny ref-filtered read,
    never a WAL rescan) and run :func:`delete_samples` for each, so
    samples that were synced BEFORE their tombstone was logged leave
    the store too.  Idempotent: re-applying a stone deletes nothing new.

    Returns ``{"applied": n_stones, "samples_deleted": n,
    "unresolved_refs": [...]}`` — a ref is unresolved only if the
    series table predates it (sync again first)."""
    import json as _json

    from pyspark.sql import functions as F

    from tsdb_parquet_spark.operators.selection import EQ, Matcher
    from tsdb_parquet_spark.tsdb_wal import read_wal_tombstones

    stones = read_wal_tombstones(wal_dir)
    if not stones:
        return {"applied": 0, "samples_deleted": 0, "unresolved_refs": []}
    state_path = os.path.join(store_root, "_wal_sync.json")
    table = None
    if os.path.exists(state_path):
        with open(state_path) as fh:
            table = _json.load(fh).get("series_table")
    if not table or not os.path.exists(os.path.join(store_root, table)):
        raise FileNotFoundError(
            "no _wal_series side table under the store — run sync_wal "
            "at least once before applying retro tombstones"
        )
    refs = sorted({ref for ref, _, _ in stones})
    rows = (
        spark.read.parquet(os.path.join(store_root, table))
        .filter(F.col("__ref__").isin(refs))
        .collect()
    )
    by_ref = {r["__ref__"]: r.asDict() for r in rows}
    labels = sorted(label_names)
    applied = 0
    deleted = 0
    unresolved = [r for r in refs if r not in by_ref]
    for ref, mint, maxt in stones:
        row = by_ref.get(ref)
        if row is None:
            continue
        matchers = [Matcher(n, EQ, row.get(n, "")) for n in labels]
        rep = delete_samples(
            spark,
            store_root,
            matchers,
            mint,
            maxt,
            label_names=labels,
            writer_opts=writer_opts,
        )
        applied += 1
        deleted += rep["samples_deleted"]
    return {
        "applied": applied,
        "samples_deleted": deleted,
        "unresolved_refs": unresolved,
    }

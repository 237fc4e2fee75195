"""Maintenance-job tests: compaction policy and day-partition retention."""

import os
import shutil

from pyspark.sql import functions as F

from tsdb_parquet_spark.sources.maintenance import (
    DAY_MS,
    maybe_compact,
    retention_sweep,
    vacuum_store,
)
from tsdb_parquet_spark.sources.writer import (
    SortedParquetWriter,
    WriterOptions,
    write_sorted,
)

WORK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    ".work", "maintenance_tests")


def test_maybe_compact_threshold(spark, sf_smoke):
    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet").limit(100)
    root = os.path.join(WORK, "policy")
    shutil.rmtree(root, ignore_errors=True)
    opts = WriterOptions(sort_columns=["l_orderkey"], max_files=1)
    writer = SortedParquetWriter(spark, root, opts)
    writer.write(li)
    writer.write(li)
    assert maybe_compact(writer, max_parts=8) is None  # under threshold
    for _ in range(7):
        writer.write(li)
    compact = maybe_compact(writer, max_parts=8)
    assert compact is not None
    assert writer.part_dirs == []  # parts cleaned after merge
    assert spark.read.parquet(compact).count() == 900


def test_repeated_compaction_is_lossless(spark, sf_smoke):
    """Second maybe_compact cycle must keep rows from the first cycle:
    compact() folds the previous compact output into the merge (regression
    for the overwrite-drops-survivors bug)."""
    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet").limit(100)
    root = os.path.join(WORK, "two_cycles")
    shutil.rmtree(root, ignore_errors=True)
    opts = WriterOptions(sort_columns=["l_orderkey"], max_files=1)
    writer = SortedParquetWriter(spark, root, opts)
    for _ in range(3):
        writer.write(li)
    assert maybe_compact(writer, max_parts=2) is not None  # cycle 1: 300 rows
    for _ in range(3):
        writer.write(li)
    compact = maybe_compact(writer, max_parts=2)  # cycle 2: +300 rows
    assert compact is not None
    assert writer.part_dirs == []
    assert spark.read.parquet(compact).count() == 600
    # and the merged output is still globally sorted on the sort prefix
    keys = [r[0] for r in spark.read.parquet(compact)
            .select("l_orderkey").collect()]
    assert keys == sorted(keys)


def test_concurrent_part_survives_compaction_cycle(spark, sf_smoke):
    """A part landed between compact()'s input snapshot and the cleanup
    delete (e.g. a streaming micro-batch beside the periodic maintenance
    job) must survive the cycle — regression for the re-listed-delete
    data-loss race."""
    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet").limit(100)
    root = os.path.join(WORK, "race")
    shutil.rmtree(root, ignore_errors=True)
    opts = WriterOptions(sort_columns=["l_orderkey"], max_files=1)
    writer = SortedParquetWriter(spark, root, opts)
    for _ in range(3):
        writer.write(li)
    compact = writer.compact()  # snapshots the 3 parts
    # concurrent micro-batch lands after the merge, before cleanup
    late_part = writer.write(li)
    for part in writer.last_compacted_parts:
        shutil.rmtree(part, ignore_errors=True)
    assert os.path.exists(late_part)  # the late part was NOT deleted
    assert spark.read.parquet(compact).count() == 300
    # next cycle folds the survivor in: nothing lost
    compact = writer.compact()
    assert spark.read.parquet(compact).count() == 400


def test_retention_sweep_drops_old_days(spark):
    rows = [(d, float(d)) for d in range(10, 20)]
    df = spark.createDataFrame(rows, "`__day` INT, value DOUBLE")
    out = os.path.join(WORK, "retention")
    shutil.rmtree(out, ignore_errors=True)
    write_sorted(
        df,
        out,
        WriterOptions(sort_columns=["value"], partition_by=["__day"],
                      max_files=1),
    )
    now_ms = 25 * DAY_MS
    removed = retention_sweep(out, now_ms=now_ms, keep_days=10)
    # cutoff_day = 25 - 10 = 15 -> days 10..14 removed
    assert removed == [f"__day={d}" for d in range(10, 15)]
    back = spark.read.parquet(out)
    assert sorted(r["__day"] for r in back.select("__day").distinct().collect()
                  ) == list(range(15, 20))


def test_vacuum_reports(spark):
    rows = [(d, float(d)) for d in range(3)]
    df = spark.createDataFrame(rows, "`__day` INT, value DOUBLE")
    out = os.path.join(WORK, "vacuum")
    shutil.rmtree(out, ignore_errors=True)
    write_sorted(
        df,
        out,
        WriterOptions(sort_columns=["value"], partition_by=["__day"],
                      max_files=1),
    )
    report = vacuum_store(spark, out, now_ms=5 * DAY_MS, keep_days=3)
    assert report["removed_partitions"] == ["__day=0", "__day=1"]
    assert report["remaining_chunks"] == 1


def test_replayed_part_not_resurrected_after_compaction(spark, tmp_path):
    """A streaming micro-batch replay must NOT re-adopt a part directory
    a deferred-cleanup compaction already folded — doing so would
    double-count its rows against the compacted copy (the
    crash-between-write-and-checkpoint scenario)."""
    from tsdb_parquet_spark.schema import sort_columns
    from tsdb_parquet_spark.sources.maintenance import maybe_compact
    from tsdb_parquet_spark.sources.manifest import read_snapshot
    from tsdb_parquet_spark.sources.writer import (
        SortedParquetWriter,
        WriterOptions,
    )

    root = str(tmp_path / "store")
    opts = WriterOptions(sort_columns=["k"], max_files=2)
    w = SortedParquetWriter(spark, root, opts)
    for i in range(3):
        w.write(spark.range(i * 10, i * 10 + 10).selectExpr("id AS k"))
    total = 30
    compacted = maybe_compact(w, max_parts=1, defer_cleanup=True)
    assert compacted is not None
    folded = w.last_compacted_parts
    assert folded and all(os.path.isdir(p) for p in folded)  # awaiting vacuum

    # a NEW writer (restart) replays a batch whose part dir still exists:
    # adopt must be a no-op for the folded dir
    w2 = SortedParquetWriter(spark, root, opts)
    w2.adopt(folded[0])
    assert folded[0] not in w2.part_dirs
    assert read_snapshot(spark, root).count() == total  # no double count

    # a genuinely NEW part still adopts fine
    new_part = os.path.join(root, "part.99")
    spark.range(100, 105).selectExpr("id AS k").write.parquet(new_part)
    w2.adopt(new_part)
    assert new_part in w2.part_dirs
    assert read_snapshot(spark, root).count() == total + 5


def _delete_fixture_store(spark, root):
    """Two series x 4 days at 6h cadence, landed as TWO parts then
    compacted, plus one post-compaction live part — so the store's live
    set holds a compact target AND a live part when the delete runs."""
    from pyspark.sql import Row

    from tsdb_parquet_spark.chunks import samples_to_chunks
    from tsdb_parquet_spark.schema import sort_columns
    from tsdb_parquet_spark.sources.writer import (
        SortedParquetWriter,
        WriterOptions,
    )

    day = 86_400_000
    labels = ["__name__", "job"]
    rows = [
        Row(__name__="m", job=j, ts=d * day + h * 6 * 3_600_000,
            value=d * 100.0 + h + (0.5 if j == "b" else 0.0))
        for j in ("a", "b")
        for d in range(2)
        for h in range(4)
    ]
    df = spark.createDataFrame(rows)
    opts = WriterOptions(sort_columns=sort_columns(labels))
    w = SortedParquetWriter(spark, root, opts)
    w.write(samples_to_chunks(df, labels, chunk_span_ms=day))
    w.compact()
    # a post-compaction part holding ONLY days 2-3 (stays live)
    late = [
        Row(__name__="m", job=j, ts=d * day + h * 6 * 3_600_000,
            value=d * 100.0 + h + (0.5 if j == "b" else 0.0))
        for j in ("a", "b")
        for d in range(2, 4)
        for h in range(4)
    ]
    w.write(samples_to_chunks(spark.createDataFrame(late), labels,
                              chunk_span_ms=day))
    return labels


def _all_samples(spark, root):
    from pyspark.sql import functions as F

    from tsdb_parquet_spark.chunks import sample_structs, with_sample_arrays
    from tsdb_parquet_spark.sources.writer import live_store_dirs, read_roots

    df = read_roots(spark, live_store_dirs(root))
    out = df.transform(with_sample_arrays).select(
        "job", F.explode(sample_structs()).alias("s")
    ).collect()
    return sorted((r["job"], r["s"]["ts"], r["s"]["value"]) for r in out)


def test_delete_samples_surgical_store_rewrite(spark, tmp_path):
    """Store-side delete (the retro_stones remedy): drop one series'
    samples inside a closed interval; only directories holding affected
    chunks rewrite (the pushdown probe leaves the rest untouched),
    partially-affected chunks re-encode with recomputed bounds, and the
    result is snapshot-published.  Idempotent on re-run."""
    import os

    from tsdb_parquet_spark.operators.selection import EQ, Matcher
    from tsdb_parquet_spark.sources.maintenance import delete_samples
    from tsdb_parquet_spark.sources.manifest import current_snapshot

    day = 86_400_000
    root = str(tmp_path / "store")
    _delete_fixture_store(spark, root)
    before = _all_samples(spark, root)
    # delete job=a inside [day, day + 12h]: day-1 chunk of series a is
    # PARTIALLY cleared (samples at 0h,6h,12h go; 18h stays) in the
    # compact target only — the late part (days 2-3) must not rewrite
    rep = delete_samples(
        spark, root,
        [Matcher("job", EQ, "a")],
        mint=day, maxt=day + 12 * 3_600_000,
        label_names=["__name__", "job"],
    )
    assert rep["samples_deleted"] == 3
    assert len(rep["rewritten"]) == 1
    assert os.path.basename(rep["rewritten"][0]).startswith("compact.")
    assert rep["untouched"] >= 1  # the late part kept its bytes
    want = [
        r for r in before
        if not (r[0] == "a" and day <= r[1] <= day + 12 * 3_600_000)
    ]
    assert _all_samples(spark, root) == want
    # the manifest moved to the rewritten compact version
    snap = current_snapshot(root)
    assert os.path.basename(rep["rewritten"][0]) in snap.paths
    # idempotent: nothing left to delete, nothing rewritten
    rep2 = delete_samples(
        spark, root,
        [Matcher("job", EQ, "a")],
        mint=day, maxt=day + 12 * 3_600_000,
        label_names=["__name__", "job"],
    )
    assert rep2["samples_deleted"] == 0 and rep2["rewritten"] == []
    assert _all_samples(spark, root) == want


def test_delete_samples_part_rewrite_and_empty_chunk_drop(spark, tmp_path):
    """Deleting a whole chunk's span drops the chunk row entirely; a
    touched live PART rewrites to a part.del* dir that replaces it in
    the manifest."""
    import os

    from tsdb_parquet_spark.operators.selection import EQ, Matcher
    from tsdb_parquet_spark.sources.maintenance import delete_samples

    day = 86_400_000
    root = str(tmp_path / "store")
    _delete_fixture_store(spark, root)
    before = _all_samples(spark, root)
    # wipe series b's entire day-2 chunk (lives in the late part)
    rep = delete_samples(
        spark, root,
        [Matcher("job", EQ, "b")],
        mint=2 * day, maxt=3 * day - 1,
        label_names=["__name__", "job"],
    )
    assert rep["samples_deleted"] == 4
    assert len(rep["rewritten"]) == 1
    assert os.path.basename(rep["rewritten"][0]).startswith("part.del")
    want = [
        r for r in before
        if not (r[0] == "b" and 2 * day <= r[1] < 3 * day)
    ]
    assert _all_samples(spark, root) == want


def test_apply_retro_tombstones_closes_the_loop(spark, tmp_path):
    """sync -> late tombstone -> sync reports retro_stones -> the apply
    pass deletes the already-synced samples store-side.  The full
    remedy chain for the documented downstream-copy limitation."""
    from tsdb_parquet_spark.sources.maintenance import (
        apply_retro_tombstones,
    )
    from tsdb_parquet_spark.tsdb_wal import WalWriter, sync_wal

    wal = str(tmp_path / "wal")
    store = str(tmp_path / "store")
    w = WalWriter(wal)
    w.log_series([(1, {"__name__": "m", "job": "a"}),
                  (2, {"__name__": "m", "job": "b"})])
    w.log_samples([(1, 1000, 1.0), (1, 2000, 2.0), (2, 1500, 9.0)])
    w.close()
    r1 = sync_wal(spark, wal, store, ["__name__", "job"])
    assert r1["retro_stones"] == 0
    w = WalWriter(wal, first_segment=1)
    w.log_tombstones([(1, 0, 1500)])  # retro: targets synced ts=1000
    w.log_samples([(1, 3000, 3.0)])
    w.close()
    r2 = sync_wal(spark, wal, store, ["__name__", "job"])
    assert r2["retro_stones"] == 1 and r2["retro_refs"] == [1]
    rep = apply_retro_tombstones(
        spark, wal, store, ["__name__", "job"]
    )
    assert rep["applied"] >= 1 and rep["unresolved_refs"] == []
    assert rep["samples_deleted"] == 1  # ts=1000 of series a
    got = _all_samples(spark, store)
    assert got == [("a", 2000, 2.0), ("a", 3000, 3.0), ("b", 1500, 9.0)]
    # idempotent
    rep2 = apply_retro_tombstones(
        spark, wal, store, ["__name__", "job"]
    )
    assert rep2["samples_deleted"] == 0


def test_delete_samples_probe_is_one_grouped_job(spark, tmp_path):
    """The pushdown probe is ONE grouped job over every live dir (tagged
    `tsdb.delete_probe`), never a per-directory driver loop — the job
    count must not scale with directory count."""
    from tsdb_parquet_spark.operators.selection import EQ, Matcher
    from tsdb_parquet_spark.sources.maintenance import delete_samples

    day = 86_400_000
    tracker = spark.sparkContext.statusTracker()

    def probe_jobs(root, n_extra_parts):
        _delete_fixture_store(spark, root)
        # widen the farm: extra live parts that can never match
        from pyspark.sql import Row

        from tsdb_parquet_spark.chunks import samples_to_chunks
        from tsdb_parquet_spark.sources.writer import (
            SortedParquetWriter,
            WriterOptions,
        )
        from tsdb_parquet_spark.schema import sort_columns

        labels = ["__name__", "job"]
        w = SortedParquetWriter(
            spark, root, WriterOptions(sort_columns=sort_columns(labels))
        )
        for i in range(n_extra_parts):
            df = spark.createDataFrame(
                [Row(__name__="m", job=f"extra{i}", ts=(10 + i) * day,
                     value=1.0)]
            )
            w.write(samples_to_chunks(df, labels, chunk_span_ms=day))
        before = len(tracker.getJobIdsForGroup("tsdb.delete_probe"))
        rep = delete_samples(
            spark, root,
            [Matcher("job", EQ, "nobody")],  # all-miss
            mint=0, maxt=100 * day,
            label_names=labels,
        )
        assert rep["rewritten"] == [] and rep["samples_deleted"] == 0
        return len(tracker.getJobIdsForGroup("tsdb.delete_probe")) - before

    small = probe_jobs(str(tmp_path / "s1"), 1)
    large = probe_jobs(str(tmp_path / "s2"), 6)
    assert small >= 1
    assert large == small  # constant in dir count


def test_delete_samples_del_dir_numbers_past_max_index(spark, tmp_path):
    """part.del rewrite dirs number past the MAX existing index (like
    _next_part/_next_compact) — after vacuum removes a lower-numbered
    del dir, a count-based scheme would collide with a surviving
    higher-numbered one and clobber a dir pinned readers may hold."""
    import os

    from tsdb_parquet_spark.operators.selection import EQ, Matcher
    from tsdb_parquet_spark.sources.maintenance import delete_samples

    day = 86_400_000
    root = str(tmp_path / "store")
    _delete_fixture_store(spark, root)
    # a surviving higher-numbered del dir (e.g. awaiting vacuum) with a
    # vacuumed-away lower sibling: count=1 would mint part.del00000001,
    # max+1 must mint part.del00000008
    os.makedirs(os.path.join(root, "part.del00000007"))
    rep = delete_samples(
        spark, root,
        [Matcher("job", EQ, "b")],
        mint=2 * day, maxt=3 * day - 1,
        label_names=["__name__", "job"],
    )
    assert len(rep["rewritten"]) == 1
    assert os.path.basename(rep["rewritten"][0]) == "part.del00000008"


def test_delete_samples_through_symlinked_store_path(spark, tmp_path):
    """A symlink component in the store path must not break probe-hit
    attribution: Spark reports symlink-RESOLVED file URIs while the
    caller passed the unresolved path — realpath-normalizing both sides
    keeps the hits attributable (r11 advice: abspath-only matching
    turned a working delete pass into the unattributable-hit raise)."""
    import os

    from tsdb_parquet_spark.operators.selection import EQ, Matcher
    from tsdb_parquet_spark.sources.maintenance import delete_samples

    day = 86_400_000
    real_root = str(tmp_path / "real_store")
    _delete_fixture_store(spark, real_root)
    link_parent = tmp_path / "link_parent"
    os.makedirs(link_parent)
    link_root = str(link_parent / "store")
    os.symlink(real_root, link_root)

    rep = delete_samples(
        spark, link_root,
        [Matcher("job", EQ, "a")],
        mint=day, maxt=day + 12 * 3_600_000,
        label_names=["__name__", "job"],
    )
    assert rep["samples_deleted"] == 3
    assert len(rep["rewritten"]) == 1


def test_exemplar_store_lifecycle(spark, tmp_path):
    """The full maintenance lifecycle over an EXEMPLAR store — exemplars
    are a standard day-partitioned sorted store (`sources/exemplars.py`),
    so `maybe_compact` bounds part count between drains and
    `vacuum_store` drops `__day=` partitions past the horizon, keeping
    exemplar growth bounded alongside the sample store they decorate."""
    from pyspark.sql import Row

    from tsdb_parquet_spark.operators.selection import EQ, Matcher
    from tsdb_parquet_spark.sources.exemplars import (
        exemplar_writer,
        select_exemplars,
        with_day_column,
    )

    root = str(tmp_path / "ex_store")
    writer = exemplar_writer(spark, root, ["__name__", "job"])
    # three drains, each covering days 0..9 (one exemplar per day per job)
    for drain in range(3):
        rows = [
            Row(__name__="m", job=("a" if drain % 2 else "b"),
                ts=d * DAY_MS + drain,
                value=float(d * 10 + drain),
                exemplar_labels={"trace_id": f"t{drain}-{d}"})
            for d in range(10)
        ]
        writer.write(with_day_column(spark.createDataFrame(rows)))

    # the root is readable mid-lifecycle (manifest-resolved live set)
    pre = select_exemplars(spark, root, [], mint=0, maxt=10 * DAY_MS)
    assert pre.count() == 30

    compact_dir = maybe_compact(writer, max_parts=2)
    assert compact_dir is not None
    assert writer.part_dirs == []  # consumed parts cleaned up

    # retention: keep 5 days from "now" = day 10 -> days 0..4 dropped
    report = vacuum_store(
        spark, compact_dir, now_ms=10 * DAY_MS, keep_days=5
    )
    assert report["removed_partitions"] == [
        f"__day={d}" for d in range(5)
    ]
    assert report["remaining_chunks"] == 15  # 5 days x 3 drains

    # query_exemplars over the swept store: pushed selector + range
    got = select_exemplars(
        spark, root, [Matcher("job", EQ, "a")],
        mint=6 * DAY_MS, maxt=8 * DAY_MS + DAY_MS - 1,
    ).collect()
    # drain 1 wrote job=a; days 6,7,8 survive the sweep and the range
    assert sorted(r["exemplar_labels"]["trace_id"] for r in got) == [
        "t1-6", "t1-7", "t1-8"
    ]
    # nothing older than the horizon is reachable any more
    stale = select_exemplars(spark, root, [], mint=0, maxt=5 * DAY_MS - 1)
    assert stale.count() == 0

"""Physical-plan assertions: the Spark equivalents of the reference's
pruning stack must actually appear in the executed plans.

- predicate pushdown to the Parquet scan (PushedFilters) = reference P8-P11
  (bloom / zone-map / dictionary / decode filters, `dataset/row_selector.go`,
  `dataset/row_filter.go`)
- column pruning (ReadSchema) = reference P1 projection
  (`compute/projection.go:24-33`)
- whole-stage codegen on the scan->filter->project path = the reference's
  vectorized batch pipeline (`compute/fragment.go:9`)
"""

import io
import re

import pytest
from pyspark.sql import functions as F

from tsdb_parquet_spark.operators.selection import Matcher
from tsdb_parquet_spark.querier import ChunkQuerier


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_equality_filter_pushed_to_scan(spark, sf_oracle):
    li = spark.read.parquet(f"{sf_oracle}/lineitem.parquet")
    df = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    plan = _formatted(df)
    assert "PushedFilters" in plan
    assert "EqualTo(l_returnflag,R)" in plan.replace(" ", "").replace(
        "EqualTo(l_returnflag,R)", "EqualTo(l_returnflag,R)"
    ) or "l_returnflag" in plan.split("PushedFilters")[1].split("\n")[0]


def test_range_filter_pushed_to_scan(spark, sf_oracle):
    orders = spark.read.parquet(f"{sf_oracle}/orders.parquet")
    df = orders.filter(
        (F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") <= 5000)
    ).select("o_orderkey")
    pushed = _formatted(df).split("PushedFilters")[1].split("\n")[0]
    assert "GreaterThanOrEqual" in pushed and "LessThanOrEqual" in pushed


def test_column_pruning(spark, sf_oracle):
    li = spark.read.parquet(f"{sf_oracle}/lineitem.parquet")
    df = li.select("l_orderkey", "l_quantity")
    plan = _formatted(df)
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    # untouched wide columns must NOT be read
    assert "l_extendedprice" not in read_schema
    assert "l_returnflag" not in read_schema


def test_querier_matchers_pushed(spark, sf_oracle):
    """ChunkQuerier predicates (matchers + time containment) must reach the
    Parquet scan — the Spark form of the reference's metadata-first scan
    phases (`compute/scan.go:64-78`)."""
    from tsdb_parquet_spark.corpus import events_chunk_store

    store = events_chunk_store(spark, sf_oracle)
    q = ChunkQuerier.from_parquet(spark, store)
    df = q.select_chunks(
        mint=0, maxt=10**15, matchers=[Matcher("event_type", "=", "click")]
    )
    plan = _formatted(df)
    pushed = plan.split("PushedFilters")[1].split("\n")[0]
    assert "event_type" in pushed
    assert "__mint" in pushed and "__maxt" in pushed


def test_prefix_regex_matcher_pushed(spark, sf_oracle):
    """An anchored prefix regex (`event_type=~"cl.*"`) must rewrite to
    StringStartsWith and reach PushedFilters; literal and alternation
    regexes rewrite to EqualTo / In.  Plain rlike never pushes — at 100 TB
    the rewrite is the difference between footer pruning and a full
    decode."""
    li = spark.read.parquet(f"{sf_oracle}/lineitem.parquet")
    from tsdb_parquet_spark.operators.selection import apply_matchers

    df = apply_matchers(li, [Matcher("l_returnflag", "=~", "R.*")]).select(
        "l_orderkey"
    )
    pushed = _formatted(df).split("PushedFilters")[1].split("\n")[0]
    assert "StringStartsWith(l_returnflag,R)" in pushed

    df2 = apply_matchers(li, [Matcher("l_returnflag", "=~", "A|N")]).select(
        "l_orderkey"
    )
    pushed2 = _formatted(df2).split("PushedFilters")[1].split("\n")[0]
    assert "In(l_returnflag" in pushed2

    df3 = apply_matchers(li, [Matcher("l_returnflag", "=~", "R")]).select(
        "l_orderkey"
    )
    pushed3 = _formatted(df3).split("PushedFilters")[1].split("\n")[0]
    assert "EqualTo(l_returnflag,R)" in pushed3


def test_regex_rewrite_semantics(spark):
    """Rewritten shapes must match the anchored-rlike semantics exactly."""
    from tsdb_parquet_spark.operators.selection import regex_match, regex_not_match

    df = spark.createDataFrame(
        [("api",), ("api-server",), ("apx",), ("kubelet",), ("",)], "v STRING"
    )
    got = [r["v"] for r in df.filter(regex_match("v", "api.*")).collect()]
    assert sorted(got) == ["api", "api-server"]
    got = [r["v"] for r in df.filter(regex_match("v", "api|apx")).collect()]
    assert sorted(got) == ["api", "apx"]
    got = [r["v"] for r in df.filter(regex_not_match("v", "api.*")).collect()]
    assert sorted(got) == ["", "apx", "kubelet"]
    # non-literal pattern falls back to rlike, still anchored
    got = [r["v"] for r in df.filter(regex_match("v", "ap[ix]")).collect()]
    assert sorted(got) == ["api", "apx"]


def test_day_partitioned_store_prunes_directories(spark, sf_oracle):
    """A day-partitioned chunk store must turn time bounds into
    PartitionFilters — whole-directory pruning before any footer read (the
    100 TB coarse layer above zone maps)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from tsdb_parquet_spark.corpus import events_chunk_store
    from tsdb_parquet_spark.schema import MIN_T
    from tsdb_parquet_spark.sources.writer import WriterOptions, write_sorted

    src = spark.read.parquet(events_chunk_store(spark, sf_oracle))
    day = ChunkQuerier.DAY_PARTITION
    with_day = src.withColumn(day, F.expr(f"{MIN_T} div 86400000"))
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".work", "day_partitioned",
    )
    shutil.rmtree(out, ignore_errors=True)
    write_sorted(
        with_day,
        out,
        WriterOptions(
            sort_columns=["__name__", MIN_T], partition_by=[day], max_files=4
        ),
    )
    q = ChunkQuerier.from_parquet(spark, out)
    assert day not in q.label_columns
    df = q.select_chunks(mint=1704672000000, maxt=1705881600000)
    plan = _formatted(df)
    pf = plan.split("PartitionFilters:")[1].split("\n")[0]
    assert "__day" in pf and (">=" in pf or "GreaterThan" in pf)
    # results must match the unpartitioned store for the same window
    unpart = ChunkQuerier.from_parquet(
        spark, events_chunk_store(spark, sf_oracle)
    )
    assert df.count() == unpart.select_chunks(
        mint=1704672000000, maxt=1705881600000
    ).count()


def test_scan_filter_project_is_codegen(spark, sf_oracle):
    li = spark.read.parquet(f"{sf_oracle}/lineitem.parquet")
    df = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    plan = _plan(df)
    # "*(n)" prefixes mark whole-stage-codegen'd operators in the compact
    # plan string; the scan->filter->project span must be inside one
    assert "*(1) Project" in plan and "*(1) Filter" in plan


def test_small_agg_uses_partial_aggregation(spark, sf_oracle):
    """groupBy must plan partial (map-side) aggregation before the
    exchange — one shuffle of pre-aggregated data, not raw rows."""
    li = spark.read.parquet(f"{sf_oracle}/lineitem.parquet")
    df = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    plan = _plan(df)
    first_agg = plan.index("HashAggregate")
    assert "partial_sum" in plan[first_agg:] or "partial" in plan


def test_series_id_broadcast_join(spark):
    """samples_to_chunks must broadcast the tiny series-id map, never
    shuffle the chunk table for it.  The id table is a localCheckpoint
    (no size stats), so the broadcast decision is AQE's runtime one —
    assert the FINAL adaptive plan, after execution."""
    from tsdb_parquet_spark.chunks import samples_to_chunks

    samples = spark.createDataFrame(
        [("m", "a", 0, 1.0), ("m", "b", 60_000, 2.0)],
        "`__name__` STRING, job STRING, ts LONG, value DOUBLE",
    )
    chunks = samples_to_chunks(samples, ["__name__", "job"], chunk_span_ms=60_000)
    chunks.collect()  # lets AQE replace the stat-less SMJ with broadcast
    plan = _plan(chunks)
    assert "BroadcastHashJoin" in plan
    assert "isFinalPlan=true" in plan


def test_dense_series_ids_releases_tagged_cache(spark):
    """dense_series_ids pins the small id table (localCheckpoint) and must
    explicitly unpersist the fat tagged frame — at most ONE persisted RDD
    (the checkpoint) may remain, not the tagged cache too."""
    from tsdb_parquet_spark.chunks import dense_series_ids

    series = spark.createDataFrame(
        [("m", chr(97 + i)) for i in range(10)], "`__name__` STRING, job STRING"
    )
    sc = spark.sparkContext._jsc.sc()
    before = sc.getPersistentRDDs().size()
    ids = dense_series_ids(series, ["__name__", "job"])
    assert ids.count() == 10
    assert sc.getPersistentRDDs().size() - before <= 1


def test_promql_tumbling_has_no_join(spark):
    """window == step must compile to bucket arithmetic, not a join."""
    from tsdb_parquet_spark.plans.promql import PromQLEngine

    samples = spark.createDataFrame(
        [("m", "a", 1000, 1.0)], "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    )
    out = PromQLEngine(samples).query_range(
        "sum by (job) (count_over_time(m[1m]))", 60_000, 300_000, 60_000
    )
    plan = _plan(out)
    assert "Join" not in plan


def test_promql_general_window_has_no_join(spark):
    """window > step must compile to arithmetic step fan-out
    (explode(sequence)), NOT a join — the old broadcast nested-loop tested
    every sample against every step, O(samples x steps)."""
    from tsdb_parquet_spark.plans.promql import PromQLEngine

    samples = spark.createDataFrame(
        [("m", "a", 1000, 1.0)], "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    )
    out = PromQLEngine(samples).query_range(
        "sum by (job) (count_over_time(m[5m]))", 60_000, 300_000, 60_000
    )
    plan = _plan(out)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" not in plan
    assert "Generate" in plan  # the explode(sequence(...)) fan-out


def test_rollup_routed_selector_pushes_name_filter(spark, sf_oracle):
    """The routed engine's rewritten selector must reach the chunk scan
    as a pushed `__name__ = 'app_events:count'` equality — that pushdown
    IS the storage-level routing (raw-store chunks bloom/dict-pruned),
    so it has to survive the decode pipeline above the scan."""
    from tsdb_parquet_spark.corpus import (
        _CHUNK_LABELS,
        events_chunk_store,
        events_rollup_store,
    )
    from tsdb_parquet_spark.plans.routing import routed_engine

    raw = events_chunk_store(spark, sf_oracle)
    roll = events_rollup_store(spark, sf_oracle)
    engine = routed_engine(spark, raw, roll, _CHUNK_LABELS, 86_400_000)
    df = engine.query_range(
        "sum by (event_type) (count_over_time(app_events[1d]))",
        1704153600000, 1706486400000, 86_400_000,
    )
    assert engine.last_rewrites == 1
    plan = _formatted(df)
    pushed = [
        line for line in plan.splitlines() if "PushedFilters" in line
    ]
    assert pushed, plan
    assert any("app_events:count" in line for line in pushed), pushed


def test_spread_noop_on_wide_input(spark):
    from tsdb_parquet_spark.catalog import spread

    wide = spark.range(0, 1000).repartition(64)
    out = spread(wide)
    # already wider than defaultParallelism: identical plan, no extra
    # exchange inserted (the 100 TB case must never pay a reshuffle)
    assert out is wide


def test_spread_widens_single_partition_scan(spark, sf_oracle):
    from tsdb_parquet_spark.catalog import spread

    docs = spark.read.parquet(f"{sf_oracle}/documents.parquet")
    assert docs.rdd.getNumPartitions() == 1  # single row group
    out = spread(docs)
    assert (
        out.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


def test_spread_filter_pushdown_trap_and_persist_barrier(spark, sf_oracle):
    """A deterministic filter on a computed column gets predicate-pushed
    below spread's round-robin exchange — its whole expression then
    evaluates on the serial scan task AND re-evaluates post-exchange.
    A persist() between the compute and the filter is the real barrier:
    the filter applies on top of the InMemoryTableScan and the heavy
    expression stays inside the (wide) cached plan."""
    from pyspark.sql import functions as F

    from tsdb_parquet_spark.catalog import spread

    def tokens(text):
        return F.split(F.lower(F.trim(text)), r"\s+")

    docs = spark.read.parquet(f"{sf_oracle}/documents.parquet")

    def heavy_filter_below_exchange(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        exch = next(
            (i for i, l in enumerate(lines) if "Exchange" in l), None
        )
        if exch is None:
            return False
        return any(
            "Filter" in l and "split(" in l and "Scan" not in l
            for l in lines[exch:]
        )

    def heavy(d):
        return d.select(
            "doc_id", F.size(tokens(F.col("text"))).alias("n")
        ).filter(F.col("n") > 3)

    # the trap, demonstrated
    assert heavy_filter_below_exchange(heavy(spread(docs)))
    # the fix: cache boundary between compute and filter
    cached = spread(docs).select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n")
    ).persist()
    out = cached.filter(F.col("n") > 3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    assert not heavy_filter_below_exchange(out)
    cached.unpersist()


def test_promql_shared_scan_replaces_parquet_scan(spark, tmp_path):
    """With shared_scan on, the SECOND query's physical plan must read
    the checkpointed RDD, not the parquet files: the session pays the
    scan+decode once and every later plan starts at a block scan (the
    r07 cold-codegen fix).  Default engines keep the parquet scan (and
    with it matcher pushdown)."""
    from tsdb_parquet_spark.plans.promql import PromQLEngine

    rows = [
        ("http_requests_total", "api", float(t), t * 30_000)
        for t in range(10)
    ]
    src = spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, value DOUBLE, ts LONG"
    ).select("__name__", "job", "ts", "value")
    path = str(tmp_path / "samples")
    src.write.parquet(path)
    samples = spark.read.parquet(path)

    shared = PromQLEngine(samples, shared_scan=True)
    first = shared.query_range("sum(http_requests_total)", 0, 270_000, 30_000)
    first.collect()  # materializes the engine's checkpoint
    second = shared.query_range(
        'http_requests_total{job="api"}', 0, 270_000, 30_000
    )
    second.collect()
    plan = _plan(second)
    assert "Scan parquet" not in plan, plan
    assert "ExistingRDD" in plan or "Scan rdd" in plan.lower(), plan

    plain = PromQLEngine(samples)
    q = plain.query_range('http_requests_total{job="api"}', 0, 270_000, 30_000)
    q.collect()
    assert "Scan parquet" in _plan(q)


def test_block_store_promql_chain_pushdown(spark, tmp_path):
    """The q106 lifecycle's read side: a store CONVERTED from a real
    TSDB block must behave like any native store — the PromQL metric
    selector reaches the parquet scan as a pushed equality and the
    ReadSchema carries only the touched columns (no __series__id, no
    unused labels), and the import left the XOR blobs behind: the scan
    reads the ``__ts``/``__values`` arrays."""
    import numpy as np

    from tsdb_parquet_spark.plans.promql import PromQLEngine
    from tsdb_parquet_spark.schema import sort_columns
    from tsdb_parquet_spark.sources.writer import WriterOptions, write_sorted
    from tsdb_parquet_spark.tsdb_block import block_to_chunk_frame, write_block
    from tsdb_parquet_spark.xorchunk import encode_xor_chunk

    block = str(tmp_path / "block")
    series = []
    for job in ("a", "b"):
        ts = (np.arange(10) * 30_000 + 30_000).astype(np.int64)
        series.append(
            (
                {"__name__": "m", "job": job},
                [(int(ts[0]), int(ts[-1]), encode_xor_chunk(ts, np.ones(10)))],
            )
        )
    write_block(block, series)
    store = str(tmp_path / "store")
    labels = ["__name__", "job"]
    write_sorted(
        block_to_chunk_frame(spark, block),
        store,
        WriterOptions(sort_columns=sort_columns(labels), max_files=2),
    )
    from tsdb_parquet_spark.querier import ChunkQuerier as CQ

    q = CQ.from_parquet(spark, store)
    engine = PromQLEngine(q.select_samples(labels=labels))
    df = engine.query_range("sum(m)", 0, 300_000, 60_000)
    plan = _formatted(df)
    pushed = plan.split("PushedFilters")[1].split("\n")[0]
    assert "EqualTo(__name__,m)" in pushed
    schema_line = plan.split("ReadSchema")[1].split("\n")[0]
    assert "__series__id" not in schema_line
    assert "__ts" in schema_line and "__values" in schema_line
    assert "__chunk_bytes" not in schema_line


def test_wal_drain_broadcasts_series_map(spark, tmp_path):
    """wal_to_samples_frame's ref->labels join must broadcast the tiny
    series map, never shuffle the sample volume for it.  Both sides are
    mapInPandas outputs (no size stats), so the decision is AQE's
    runtime one — assert the final adaptive plan after execution."""
    from tsdb_parquet_spark.tsdb_wal import WalWriter, wal_to_samples_frame

    wal = str(tmp_path)
    w = WalWriter(wal)
    w.log_series([(1, {"__name__": "m", "job": "a"})])
    w.log_samples([(1, t * 1000, float(t)) for t in range(500)])
    w.close()
    df = wal_to_samples_frame(spark, wal, ["__name__", "job"])
    df.collect()
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "isFinalPlan=true" in plan
    # the sample scan side stays one task per segment (no repartition
    # of the mapInPandas output before the aggregate's own shuffle)
    assert "Exchange rangepartitioning" not in plan


def test_delete_samples_edit_path_is_narrow(spark, tmp_path):
    """The store-delete rewrite's chunk-edit stage must stay NARROW —
    a higher-order filter over the zipped payload arrays with no
    Exchange of its own (the only shuffle in the rewrite is
    write_sorted's inherent range sort) and no Python operator.  Pinned
    on the edited frame's plan before the write."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from tsdb_parquet_spark.chunks import sample_structs, samples_to_chunks

    rows = [
        Row(__name__="m", job="a", ts=t * 1000, value=float(t))
        for t in range(10)
    ]
    chunks = samples_to_chunks(
        spark.createDataFrame(rows), ["__name__", "job"]
    )
    chunks.write.mode("overwrite").parquet(str(tmp_path / "d"))
    df = spark.read.parquet(str(tmp_path / "d"))
    kept = F.filter(
        sample_structs(),
        lambda s: (s["ts"] < F.lit(2000)) | (s["ts"] > F.lit(5000)),
    )
    edited = (
        df.withColumn("__kept", kept)
        .filter(F.size("__kept") > 0)
        .withColumn("__ts", F.col("__kept")["ts"])
        .withColumn("__values", F.col("__kept")["value"])
        .drop("__kept")
    )
    plan = edited._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # chunk-local surgery, no shuffle
    assert "Python" not in plan and "MapInPandas" not in plan
    assert [r["__ts"] for r in edited.collect()] == [[0, 1000, 6000, 7000, 8000, 9000]]


def test_downsample_blocks_shuffle_budget(spark, tmp_path):
    """Block-farm downsampling is decode (one task per block, no
    shuffle) -> ONE rollup groupBy -> re-chunk (one more groupBy): the
    pre-export plan must contain exactly TWO aggregate exchanges."""
    import numpy as np
    from pyspark.sql import functions as F

    from tsdb_parquet_spark.chunks import (
        DEFAULT_CHUNK_SPAN_MS,
        chunks_to_samples,
        samples_to_chunks,
    )
    from tsdb_parquet_spark.sources.rollup import downsample_samples
    from tsdb_parquet_spark.tsdb_block import (
        blocks_to_chunk_frame,
        write_block,
    )
    from tsdb_parquet_spark.xorchunk import encode_xor_chunk

    d = str(tmp_path / "b0")
    ts = np.arange(4, dtype=np.int64) * 3_600_000
    write_block(
        d,
        [({"__name__": "m", "job": "a"},
          [(int(ts[0]), int(ts[-1]),
            encode_xor_chunk(ts, np.arange(4, dtype=np.float64)))])],
    )
    labels = ["__name__", "job"]
    frame = blocks_to_chunk_frame(spark, [d], labels)
    samples = chunks_to_samples(frame, labels)
    rolled = downsample_samples(samples, labels, step_ms=7_200_000)
    # assign_series_ids=False is the production path (downsample_blocks
    # / compact_blocks): the exporter builds its index from labels, and
    # this plan test CAUGHT the default id assignment adding a
    # distinct + join-back (two more exchanges) nothing consumed
    chunks = samples_to_chunks(
        rolled,
        labels,
        chunk_span_ms=DEFAULT_CHUNK_SPAN_MS,
        assign_series_ids=False,
    )
    plan = chunks._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 2, plan


def test_exemplar_store_query_fully_pushed(spark, tmp_path):
    """q123's scan contract: the exemplar-store selector+range query
    pushes the equality matcher AND both ts bounds to the parquet scan
    (PushedFilters), and the day-partitioned layout prunes directories
    driver-side (PartitionFilters on __day)."""
    from pyspark.sql import Row

    from tsdb_parquet_spark.operators.selection import EQ, Matcher
    from tsdb_parquet_spark.sources.exemplars import (
        select_exemplars,
        write_exemplar_store,
    )

    day = 86_400_000
    rows = [
        Row(__name__="m", job=("a" if i % 2 else "b"), ts=i * day // 2,
            value=float(i), exemplar_labels={"trace_id": f"t{i}"})
        for i in range(12)
    ]
    store = str(tmp_path / "ex")
    write_exemplar_store(
        spark.createDataFrame(rows), store, ["__name__", "job"],
        partition_by_day=True,
    )
    df = select_exemplars(
        spark, store, [Matcher("job", EQ, "a")], mint=day, maxt=3 * day
    )
    plan = _formatted(df)
    pushed = plan.split("PushedFilters")[1].split("\n")[0]
    assert "job" in pushed and "ts" in pushed, pushed
    assert "GreaterThanOrEqual(ts" in pushed and "LessThanOrEqual(ts" in pushed
    part = plan.split("PartitionFilters")[1].split("\n")[0]
    assert "__day" in part, part
    got = sorted((r["ts"], r["exemplar_labels"]["trace_id"])
                 for r in df.collect())
    want = sorted(
        (r.ts, r.exemplar_labels["trace_id"])
        for r in rows
        if r.job == "a" and day <= r.ts <= 3 * day
    )
    assert got == want and got


def test_cli_exemplars_api_json(spark, tmp_path):
    """`cli exemplars` — /api/v1/query_exemplars response shape: series
    grouped, exemplar labels/value-string/seconds-timestamp fields, the
    selector's matchers + range applied.  Subprocess like the other CLI
    tests (the command stops its session on exit)."""
    import json
    import os
    import subprocess
    import sys

    from pyspark.sql import Row

    from tsdb_parquet_spark.sources.exemplars import write_exemplar_store

    day = 86_400_000
    rows = [
        Row(__name__="m", job=("a" if i % 2 else "b"), ts=i * day,
            value=float(i), exemplar_labels={"trace_id": f"t{i}"})
        for i in range(6)
    ]
    store = str(tmp_path / "ex")
    write_exemplar_store(spark.createDataFrame(rows), store,
                         ["__name__", "job"])
    cwd = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-m", "tsdb_parquet_spark.cli", "exemplars",
         'm{job="a"}', "--store", store,
         "--start", str(day), "--end", str(3 * day), "--api-json"],
        capture_output=True, text=True, timeout=300, cwd=cwd,
        env=dict(os.environ, SPARK_GRAFT_CPUS="4"),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    body = json.loads(proc.stdout.strip().splitlines()[-1])
    assert body["status"] == "success"
    assert len(body["data"]) == 1
    series = body["data"][0]
    assert series["seriesLabels"] == {"__name__": "m", "job": "a"}
    # value strings are Go-'f' shortest form ("1", not repr's "1.0") —
    # the shared api.exemplars_result renderer, exactly what a
    # Prometheus /api/v1/query_exemplars body carries
    assert series["exemplars"] == [
        {"labels": {"trace_id": "t1"}, "value": "1",
         "timestamp": day / 1000.0},
        {"labels": {"trace_id": "t3"}, "value": "3",
         "timestamp": 3 * day / 1000.0},
    ]


def test_exemplar_store_pre_epoch_day_partition(spark, tmp_path):
    """__day uses floor division on BOTH write and select, so pre-epoch
    timestamps stay reachable (review finding: cast() truncated toward
    zero on write while select floored, mispruning day -1)."""
    from pyspark.sql import Row

    from tsdb_parquet_spark.sources.exemplars import (
        select_exemplars,
        write_exemplar_store,
    )
    from tsdb_parquet_spark.sources.writer import WriterOptions

    opts = WriterOptions(sort_columns=["__name__", "ts"])
    store = str(tmp_path / "ex")
    rows = [
        Row(__name__="m", ts=-1, value=1.0,
            exemplar_labels={"trace_id": "t0"}),
        Row(__name__="m", ts=5, value=2.0,
            exemplar_labels={"trace_id": "t1"}),
    ]
    write_exemplar_store(
        spark.createDataFrame(rows), store, ["__name__"],
        writer_opts=opts, partition_by_day=True,
    )
    # the caller's options object is NOT mutated by partition_by_day
    assert opts.partition_by == []
    got = select_exemplars(spark, store, [], mint=-10, maxt=-1).collect()
    assert len(got) == 1 and got[0]["ts"] == -1


def test_utf8_quoted_matcher_pushed_on_escaped_column(spark, tmp_path):
    """A quoted UTF-8 label matcher (`{"deploy.env"="prod"}`) must reach
    the parquet scan as an EqualTo on the U__ value-encoded column —
    the whole point of storing names escaped instead of dotted."""
    import os

    from tsdb_parquet_spark.names import escape_name
    from tsdb_parquet_spark.plans.promql import PromQLEngine

    path = os.path.join(str(tmp_path), "utf8_store")
    spark.createDataFrame(
        [("m", "prod", "1.2", 60_000, 1.0)],
        f"`__name__` STRING, `{escape_name('deploy.env')}` STRING, "
        f"`{escape_name('service.version')}` STRING, ts LONG, "
        "value DOUBLE",
    ).write.parquet(path)
    engine = PromQLEngine(spark.read.parquet(path))
    df = engine.query_range(
        'sum by ("service.version") ({"m", "deploy.env"="prod"})',
        60_000, 60_000, 60_000,
    )
    plan = _formatted(df)
    pushed = plan.split("PushedFilters")[1].split("\n")[0]
    assert "EqualTo(U__deploy_2e_env,prod)" in pushed.replace(" ", "")
    assert "EqualTo(__name__,m)" in pushed.replace(" ", "")


ADHOC_LABELS = ["__name__", "instance", "job"]


@pytest.fixture(scope="module")
def adhoc_server(spark, tmp_path_factory):
    """A small native chunk store served the way the ``adhoc`` benchmark
    serves one: ``PromApiServer`` over a plain (unpinned) engine."""
    from tsdb_parquet_spark.api import PromApiServer
    from tsdb_parquet_spark.chunks import samples_to_chunks
    from tsdb_parquet_spark.plans.promql import PromQLEngine
    from tsdb_parquet_spark.querier import ChunkQuerier
    from tsdb_parquet_spark.schema import sort_columns
    from tsdb_parquet_spark.sources.writer import WriterOptions, write_sorted

    rows = [
        (name, host, job, k * 60_000, float(k * (i + 1)) if name == "c" else float(i))
        for name in ("c", "g")
        for i, (job, host) in enumerate(
            (j, h) for j in ("j0", "j1") for h in ("h0", "h1", "h2")
        )
        for k in range(180)
    ]
    samples = spark.createDataFrame(
        rows, "`__name__` string, instance string, job string, ts long, value double"
    )
    store = str(tmp_path_factory.mktemp("adhoc") / "store")
    write_sorted(
        samples_to_chunks(samples, ADHOC_LABELS, chunk_span_ms=3_600_000),
        store,
        WriterOptions(sort_columns=sort_columns(ADHOC_LABELS), max_files=2),
    )
    engine = PromQLEngine(
        ChunkQuerier.from_store(spark, store).select_samples(labels=ADHOC_LABELS)
    )
    server = PromApiServer(engine)
    url = server.start()
    yield url
    server.stop()


@pytest.mark.parametrize(
    "query,pushed",
    [
        ('rate(c{instance="h1"}[5m])',
         ["EqualTo(instance,h1)", "EqualTo(__name__,c)"]),
        ('max_over_time(g{job="j0",instance=~"h0|h2"}[10m])',
         ["EqualTo(job,j0)", "In(instance, [h0,h2])", "EqualTo(__name__,g)"]),
    ],
)
def test_adhoc_range_request_runs_two_jobs_unsorted(
    spark, adhoc_server, monkeypatch, query, pushed
):
    """A one-selector range request over HTTP runs exactly two Spark
    jobs (the map stage and the aggregate): the engine never orders its
    result with a distributed sort, whose range-partition sampling job
    and shuffle the renderer's own ordering made pure cost.  The step
    fan-out is ONE generator producing ``t`` straight from ``ts``, and
    the scan keeps its pruning: same ReadSchema, same pushed matchers."""
    from tsdb_parquet_spark import api

    rendered = []
    real = api.matrix_result
    monkeypatch.setattr(
        api, "matrix_result", lambda df: rendered.append(df) or real(df)
    )
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    body = api.api_get_json(
        adhoc_server, "/api/v1/query_range",
        {"query": query, "start": 3600, "end": 7200, "step": 60},
    )
    jobs = set(tracker.getJobIdsForGroup(None)) - before
    assert body["status"] == "success" and len(body["data"]["result"]) == 2
    assert len(jobs) == 2, sorted(jobs)

    plan = _plan(rendered[0]).split("== Initial Plan ==")[0]
    assert "rangepartitioning" not in plan
    assert not re.search(r"\bSort \[", plan), plan
    fanout = [ln for ln in plan.splitlines() if "Generate explode(sequence(" in ln]
    assert len(fanout) == 1, plan
    assert re.search(r", false, \[t#\d+L?\]$", fanout[0]), fanout[0]
    assert (
        "ReadSchema: struct<__ts:array<bigint>,__values:array<double>,"
        "__name__:string,instance:string,job:string>" in plan
    )
    pushed_line = plan.split("PushedFilters: ")[1].split("ReadSchema")[0]
    for f in pushed:
        assert f in pushed_line, pushed_line
    assert "__mint" not in pushed_line and "__maxt" not in pushed_line

"""Declared query corpus (SURVEY.md §2.5) — Spark implementation + DuckDB
oracle SQL, side by side.

Every entry here surfaces through ``__spark_entry__.queries()`` /
``oracle_sql()`` and is hash-compared by the driver at sf0.01.  Conventions
that keep the hashes stable across engines:

- every computed/aggregate column is aliased identically on both sides;
- timestamps are projected as int64 epoch-ms (`unix_millis` / `epoch_ms`) —
  the reference's native representation (`schema/chunk.go:31-34`);
- order-of-accumulation-sensitive float aggregates are rounded to a fixed
  number of decimals on both sides;
- every result has an explicit ORDER BY on a key prefix.
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tsdb_parquet_spark.catalog import Catalog, spread
from tsdb_parquet_spark.operators import (
    conjunction,
    distinct_rows,
    equals,
    gte,
    lte,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

#: registry filled by the @query decorator: name -> (spark_fn, oracle_sql|None)
REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def query(name: str, oracle: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = (fn, oracle)
        return fn

    return deco


def _cat(spark: SparkSession, sf_dir: str) -> Catalog:
    return Catalog(spark, sf_dir)


import contextlib  # noqa: E402
import shutil as _shutil  # noqa: E402


@contextlib.contextmanager
def _staged_publish(final: str, marker: str | None = None):
    """Staged build + atomic rename publish for .work fixture caches.

    Yields a pid-suffixed sibling directory to build into; on exit renames
    it over ``final``.  Two processes racing the FIRST build of a cached
    fixture (bench prebuild vs pytest, round 11's q77) must never
    interleave part files in the final directory — check-then-act against
    the final path tears stores.  Every cached builder MUST publish
    through this (or an equivalent inline ``.build-{pid}`` + ``os.rename``)
    — ``tests/test_corpus.py::test_work_builders_publish_atomically`` pins
    the invariant.

    ``marker`` is the builder's done-file (relative to ``final``): when the
    rename fails because ``final`` exists but the marker is absent, the
    leftover is a torn directory from a crashed run — not a race winner —
    and is swept so the fresh build can land."""
    build = f"{final}.build-{os.getpid()}"
    _shutil.rmtree(build, ignore_errors=True)
    try:
        yield build
    except BaseException:
        _shutil.rmtree(build, ignore_errors=True)
        raise
    try:
        os.rename(build, final)
        return
    except OSError:
        pass
    if marker is not None and not os.path.exists(
        os.path.join(final, marker)
    ):
        _shutil.rmtree(final, ignore_errors=True)
        try:
            os.rename(build, final)
            return
        except OSError:
            pass
    # a concurrent builder won the race — keep theirs, discard ours
    _shutil.rmtree(build, ignore_errors=True)


# ---------------------------------------------------------------------------
# Q01-Q15 — reference-parity relational corpus (SURVEY.md §2.5)
# ---------------------------------------------------------------------------


@query(
    "q01_scan_project",
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
       ORDER BY l_orderkey, l_linenumber LIMIT 1000""",
)
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+P1: scan + column projection (`compute/projection.go:20-71`)."""
    li = _cat(spark, sf_dir)["lineitem"]
    return (
        li.select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(1000)
    )


@query(
    "q02_eq_filter",
    """SELECT l_orderkey, l_linenumber FROM lineitem
       WHERE l_returnflag = 'R' ORDER BY l_orderkey, l_linenumber""",
)
def q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: equality predicate (`dataset/predicate.go:62-79`) — pushed to
    the Parquet scan (bloom/dictionary pruning happens in the reader)."""
    li = _cat(spark, sf_dir)["lineitem"]
    return (
        li.filter(equals("l_returnflag", "R"))
        .select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "q03_range_filter",
    """SELECT l_orderkey, l_linenumber, epoch_ms(l_shipdate) AS l_shipdate_ms
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         AND l_shipdate <= TIMESTAMP '1996-12-31'
       ORDER BY l_orderkey, l_linenumber""",
)
def q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3+P4: >= and <= range predicates (`dataset/predicate.go:81-113`);
    zone-map (column-index) pruning path."""
    li = _cat(spark, sf_dir)["lineitem"]
    lo = F.lit("1996-01-01").cast("timestamp_ntz")
    hi = F.lit("1996-12-31").cast("timestamp_ntz")
    return (
        li.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") <= hi))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.unix_millis(F.col("l_shipdate").cast("timestamp")).alias(
                "l_shipdate_ms"
            ),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "q04_conjunction",
    """SELECT l_orderkey, l_linenumber FROM lineitem
       WHERE l_returnflag = 'R' AND l_linestatus = 'F' AND l_quantity >= 25
       ORDER BY l_orderkey, l_linenumber""",
)
def q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: AND-conjunction of predicates (`dataset/predicate.go:14-42`)."""
    li = _cat(spark, sf_dir)["lineitem"]
    pred = conjunction(
        [
            equals("l_returnflag", "R"),
            equals("l_linestatus", "F"),
            gte("l_quantity", 25),
        ]
    )
    return (
        li.filter(pred)
        .select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "q05_distinct",
    """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
       ORDER BY l_returnflag, l_linestatus""",
)
def q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: distinct (`compute/distinct.go:16-69`) — map-side partial
    dedup, then one shuffle on the tiny key space."""
    li = _cat(spark, sf_dir)["lineitem"]
    return distinct_rows(li, ["l_returnflag", "l_linestatus"]).orderBy(
        "l_returnflag", "l_linestatus"
    )


@query(
    "q06_first_per_key",
    """SELECT o_custkey, min(o_orderkey) AS first_order FROM orders
       GROUP BY o_custkey ORDER BY o_custkey""",
)
def q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 deterministic-first-row semantics: smallest order key per
    customer (the reference gets determinism from file sort order,
    `prometheus/querier_test.go:45-49`; we aggregate)."""
    orders = _cat(spark, sf_dir)["orders"]
    return (
        orders.groupBy("o_custkey")
        .agg(F.min("o_orderkey").alias("first_order"))
        .orderBy("o_custkey")
    )


@query(
    "q07_groupby_agg",
    """SELECT l_returnflag, l_linestatus,
              round(sum(l_quantity), 2) AS sum_qty,
              round(sum(l_extendedprice), 2) AS sum_price,
              count(*) AS cnt
       FROM lineitem GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus""",
)
def q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: group-by aggregation (TPC-H Q1 core).  The reference delegates
    all aggregation to an external engine (`prometheus/promql_test.go:28-44`);
    here it is a native hash aggregate with map-side partials."""
    li = _cat(spark, sf_dir)["lineitem"]
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q08_time_containment",
    """SELECT count(*) AS n FROM events
       WHERE epoch_ns(ts) >= (SELECT min(epoch_ns(ts)) FROM events)
         AND epoch_ns(ts) <= (SELECT (min(epoch_ns(ts)) +
              (max(epoch_ns(ts)) - min(epoch_ns(ts))) // 2) FROM events)""",
)
def q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range containment semantics of the querier
    (`prometheus/querier.go:67-70`: fully-contained, inclusive bounds).
    `ts` is int64 nanoseconds on the Spark side (nanosAsLong)."""
    cat = _cat(spark, sf_dir)
    cat.register_views()
    return cat.spark.sql(
        """SELECT count(*) AS n FROM events
           WHERE ts >= (SELECT min(ts) FROM events)
             AND ts <= (SELECT min(ts) + CAST((max(ts) - min(ts)) / 2 AS BIGINT)
                        FROM events)"""
    )


@query(
    "q09_label_values",
    "SELECT DISTINCT event_type FROM events ORDER BY event_type",
)
def q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LabelValues over the stream table — the API the reference declares
    but panics on (`prometheus/querier.go:93-101`)."""
    ev = _cat(spark, sf_dir)["events"]
    return distinct_rows(ev, ["event_type"]).orderBy("event_type")


@query(
    "q10_write_compact_roundtrip",
    """SELECT count(*) AS n, min(l_orderkey) AS min_key, max(l_orderkey) AS max_key,
              round(sum(l_quantity), 2) AS sum_qty
       FROM lineitem""",
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5+S6: sorted-part write + compaction round-trip (`db/writer.go:
    169-216`, `97-159`).  Our engine re-writes lineitem through the layout
    contract (sorted parts -> compact) and aggregates its OWN copy; the
    oracle aggregates the original — a hash match proves losslessness."""
    import tempfile

    from tsdb_parquet_spark.sources.writer import (
        SortedParquetWriter,
        WriterOptions,
    )

    cat = _cat(spark, sf_dir)
    li = cat["lineitem"]
    opts = WriterOptions(
        sort_columns=["l_returnflag", "l_shipdate", "l_orderkey", "l_linenumber"],
        bloom_columns=["l_returnflag", "l_linestatus"],
        max_files=32,
    )
    work = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")
    os.makedirs(work, exist_ok=True)
    # sweep STALE roundtrip dirs (>1h old — long collected); the age
    # scope keeps a concurrent process's (or an uncollected frame's)
    # fresh dir safe while still bounding .work across rounds
    import shutil
    import time as _time

    cutoff = _time.time() - 3600
    for d in os.listdir(work):
        full = os.path.join(work, d)
        if not d.startswith("q10_roundtrip_"):
            continue
        try:
            stale = os.path.getmtime(full) < cutoff
        except OSError:
            # a concurrent bench process swept this entry between our
            # listdir and getmtime — it is gone, nothing to do
            continue
        if stale:
            shutil.rmtree(full, ignore_errors=True)
    root = tempfile.mkdtemp(prefix="q10_roundtrip_", dir=work)
    writer = SortedParquetWriter(spark, root, opts)
    # two parts exercises the multi-part merge path of Compact()
    writer.write(li.filter(F.col("l_orderkey") % 2 == 0))
    writer.write(li.filter(F.col("l_orderkey") % 2 == 1))
    compact_dir = writer.compact()
    back = spark.read.parquet(compact_dir)
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("l_orderkey").alias("min_key"),
        F.max("l_orderkey").alias("max_key"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@query(
    "q11_predicate_order",
    """SELECT count(*) AS n FROM lineitem
       WHERE l_quantity >= 30 AND l_returnflag = 'A'""",
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: predicate-order irrelevance (`compute/scan.go:60`) — written in
    the opposite order from the oracle on purpose."""
    li = _cat(spark, sf_dir)["lineitem"]
    return li.filter(equals("l_returnflag", "A") & gte("l_quantity", 30)).agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "q12_dict_equality",
    "SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'F'",
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10: equality on a low-cardinality dictionary column
    (`dataset/row_filter.go:77-151` path — dictionary filtering inside the
    vectorized reader)."""
    orders = _cat(spark, sf_dir)["orders"]
    return orders.filter(equals("o_orderstatus", "F")).agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "q13_zonemap_range",
    """SELECT count(*) AS n FROM orders
       WHERE o_orderkey >= 1000 AND o_orderkey <= 5000""",
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: range on a sorted-ish numeric column — page min/max pruning
    (`dataset/row_selector.go:45-73`)."""
    orders = _cat(spark, sf_dir)["orders"]
    return orders.filter(gte("o_orderkey", 1000) & lte("o_orderkey", 5000)).agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "q14_multi_projection",
    """SELECT l_orderkey, l_partkey, l_suppkey, l_quantity, l_extendedprice
       FROM lineitem WHERE l_orderkey <= 100
       ORDER BY l_orderkey, l_linenumber""",
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+X2: multi-column projection parity (`compute/projection.go:44-50`
    reads columns in parallel; Spark's vectorized reader does the same)."""
    li = _cat(spark, sf_dir)["lineitem"]
    return (
        li.filter(lte("l_orderkey", 100))
        .orderBy("l_orderkey", "l_linenumber")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
                "l_extendedprice")
    )


@query(
    "q15_empty_result",
    "SELECT count(*) AS n FROM lineitem WHERE l_returnflag = 'Z'",
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: bloom-filter definite-miss path (`dataset/row_selector.go:21-41`)
    — value absent from every row group."""
    li = _cat(spark, sf_dir)["lineitem"]
    return li.filter(equals("l_returnflag", "Z")).agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# q16-q18 — chunk data model end-to-end (reference S4/S5/M2/M3 surface)
# ---------------------------------------------------------------------------
#
# The events table is converted into the reference's chunk-per-row layout
# (`schema/chunk.go:25-37`): labels (__name__, event_type, shard), one chunk
# per (series, day), samples in the __ts/__values arrays; written through the
# sorted-part writer and queried back through ChunkQuerier.  The oracle
# reproduces the chunking math in plain SQL over the raw events.

_CHUNK_LABELS = ["__name__", "event_type", "shard"]
_DAY_MS = 24 * 3600 * 1000
# fixed query window inside the events time range (2024-01-01..2024-01-30,
# deterministic seed-42 data): [Jan 8, Jan 22)
_QMINT = 1704672000000
_QMAXT = 1705881600000

# SQL prelude shared by the chunk oracles: samples -> day-chunks with
# per-chunk [mint, maxt], exactly like samples_to_chunks()
_CHUNK_ORACLE_CTE = f"""
WITH s AS (
  SELECT 'app_events' AS metric, event_type,
         CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
), ch AS (
  SELECT event_type, shard, ts_ms // {_DAY_MS} AS bucket,
         min(ts_ms) AS mint, max(ts_ms) AS maxt
  FROM s GROUP BY 1, 2, 3
)
"""


def events_chunk_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf_dir) the sorted chunk store for the events table:
    samples -> chunks -> sorted parts -> compact.  Returns the compact dir."""
    tag = os.path.basename(sf_dir.rstrip("/"))
    work = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")
    # version tag guards against stale cached stores when the chunk format
    # or store layout changes across rounds
    root = os.path.join(work, f"chunk_store_v4_{tag}")
    compact_dir = os.path.join(root, "compact")
    if os.path.exists(os.path.join(compact_dir, "_SUCCESS")):
        return compact_dir
    # staged build + atomic rename publish: a torn in-place store shifted
    # q77's routed values in round 11
    with _staged_publish(root, marker="compact/_SUCCESS") as build:
        build_events_chunk_store(spark, sf_dir, os.path.join(build, "compact"))
    return compact_dir


def build_events_chunk_store(
    spark: SparkSession, sf_dir: str, compact_dir: str
) -> str:
    """The uncached build path behind :func:`events_chunk_store`."""
    from tsdb_parquet_spark.chunks import samples_to_chunks
    from tsdb_parquet_spark.schema import sort_columns
    from tsdb_parquet_spark.sources.writer import WriterOptions, write_sorted

    ev = _cat(spark, sf_dir)["events"]
    samples = ev.select(
        F.lit("app_events").alias("__name__"),
        F.col("event_type"),
        (F.col("user_id") % 8).cast("string").alias("shard"),
        F.expr("ts div 1000000").alias("ts"),  # int64 ns -> ms
        F.col("value"),
    )
    chunks = samples_to_chunks(samples, _CHUNK_LABELS, chunk_span_ms=_DAY_MS)
    opts = WriterOptions(
        sort_columns=sort_columns(_CHUNK_LABELS),
        bloom_columns=[c for c in _CHUNK_LABELS if c != "__name__"],
        max_files=16,
    )
    # single sorted write — the part->compact cycle is exercised by q10/q21
    return write_sorted(chunks, compact_dir, opts)


@query(
    "q16_series_select",
    _CHUNK_ORACLE_CTE
    + f"""
, ids AS (
  SELECT event_type, shard,
         DENSE_RANK() OVER (ORDER BY event_type, shard) - 1 AS sid
  FROM (SELECT DISTINCT event_type, shard FROM ch)
)
SELECT i.sid AS "__series__id", c.event_type, c.shard
FROM (SELECT DISTINCT event_type, shard FROM ch
      WHERE mint >= {_QMINT} AND maxt <= {_QMAXT}) c
JOIN ids i USING (event_type, shard)
ORDER BY 1""",
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2: ChunkQuerier.select — containment time bounds + distinct series
    (`prometheus/querier.go:66-88`).  The oracle recomputes the chunk
    boundaries and the dense series-id assignment in SQL."""
    from tsdb_parquet_spark.querier import ChunkQuerier

    q = ChunkQuerier.from_parquet(spark, events_chunk_store(spark, sf_dir))
    return q.select(
        mint=_QMINT, maxt=_QMAXT, grouping=["event_type", "shard"]
    ).orderBy("__series__id")


@query(
    "q17_chunk_samples_roundtrip",
    _CHUNK_ORACLE_CTE
    + f"""
SELECT s.event_type,
       count(*) AS n_samples,
       round(sum(s.value), 2) AS sum_value,
       min(s.ts_ms) AS min_ts,
       max(s.ts_ms) AS max_ts
FROM s
JOIN ch ON s.event_type = ch.event_type AND s.shard = ch.shard
       AND s.ts_ms // {_DAY_MS} = ch.bucket
WHERE ch.mint >= {_QMINT} AND ch.maxt <= {_QMAXT}
  AND s.event_type <> 'purchase'
GROUP BY s.event_type
ORDER BY s.event_type""",
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3: full sample round-trip through the chunk layout — select chunks
    (containment window + != matcher, which the reference mishandles,
    `prometheus/querier.go:71-73`), explode the __ts/__values arrays, and
    aggregate.  Hash-matching the raw events proves the encode/write/
    compact/scan/decode cycle is lossless."""
    from tsdb_parquet_spark.operators.selection import Matcher
    from tsdb_parquet_spark.querier import ChunkQuerier

    q = ChunkQuerier.from_parquet(spark, events_chunk_store(spark, sf_dir))
    samples = q.select_samples(
        mint=_QMINT,
        maxt=_QMAXT,
        matchers=[Matcher("event_type", "!=", "purchase")],
        labels=["event_type"],
    )
    return (
        samples.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        )
        .orderBy("event_type")
    )


@query(
    "q18_label_values",
    """SELECT DISTINCT event_type AS value FROM events ORDER BY value""",
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2: label_values — the API the reference panics on
    (`prometheus/querier.go:93-101`), implemented over the chunk store."""
    from tsdb_parquet_spark.querier import ChunkQuerier

    q = ChunkQuerier.from_parquet(spark, events_chunk_store(spark, sf_dir))
    return q.label_values("event_type")


# ---------------------------------------------------------------------------
# q19-q20 — PromQL-subset range queries over the chunk store (M3; the
# reference delegates this layer entirely, `prometheus/promql_test.go:28-44`)
# ---------------------------------------------------------------------------

_P_START = 1704153600000  # 2024-01-02T00:00Z
_P_END = 1706486400000  # 2024-01-29T00:00Z
_P_STEP = _DAY_MS
_P_LOOKBACK = 6 * 3600 * 1000


# One engine per (session, sf, flavor), with shared_scan on: ~30 corpus
# rows evaluate over the SAME bounded events working set, so the decode
# scan materializes once per session (first PromQL row pays it) and every
# later row starts from the checkpointed blocks — smaller novel plans
# (cheaper first-execution codegen, the r05/r06 phantom-regression cause)
# and no repeated scan+decode.  Keyed by applicationId so a fresh session
# never sees a dead session's checkpoint references.
_PROMQL_ENGINES: dict[tuple, object] = {}


def _promql_engine(spark: SparkSession, sf_dir: str, extrapolate: bool):
    from tsdb_parquet_spark.plans.promql import PromQLEngine
    from tsdb_parquet_spark.querier import ChunkQuerier

    key = (spark.sparkContext.applicationId, sf_dir, extrapolate)
    eng = _PROMQL_ENGINES.get(key)
    if eng is None:
        q = ChunkQuerier.from_parquet(spark, events_chunk_store(spark, sf_dir))
        eng = PromQLEngine(
            q.select_samples(labels=_CHUNK_LABELS),
            extrapolate=extrapolate,
            shared_scan=True,
        )
        _PROMQL_ENGINES[key] = eng
    return eng


def _promql_samples(spark: SparkSession, sf_dir: str):
    """samples via the full pipeline: events -> chunks -> sorted parquet ->
    querier -> decode; engine shared per session (see _promql_engine)."""
    return _promql_engine(spark, sf_dir, extrapolate=False)


def _promql_samples_extrapolated(spark: SparkSession, sf_dir: str):
    return _promql_engine(spark, sf_dir, extrapolate=True)


@query(
    "q19_promql_count_over_time",
    f"""
WITH s AS (SELECT event_type, epoch_ms(ts) AS ts_ms FROM events),
b AS (
  SELECT event_type,
         {_P_START} + ((ts_ms - {_P_START} + {_P_STEP - 1}) // {_P_STEP})
             * {_P_STEP} AS t
  FROM s WHERE ts_ms > {_P_START - _P_STEP} AND ts_ms <= {_P_END}
)
SELECT t, event_type, CAST(count(*) AS DOUBLE) AS value
FROM b WHERE t <= {_P_END}
GROUP BY t, event_type ORDER BY t, event_type""",
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`sum by (event_type) (count_over_time(app_events[1d]))` — tumbling
    fast path (window == step: pure bucket arithmetic, zero joins)."""
    engine = _promql_samples(spark, sf_dir)
    return engine.query_range(
        "sum by (event_type) (count_over_time(app_events[1d]))",
        _P_START,
        _P_END,
        _P_STEP,
    )


@query(
    "q20_promql_instant_sum",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
),
steps AS (SELECT t FROM range({_P_START}, {_P_END + 1}, {_P_STEP}) r(t)),
last AS (
  SELECT st.t, s.event_type, s.shard, arg_max(s.value, s.ts_ms) AS v
  FROM steps st
  JOIN s ON s.ts_ms > st.t - {_P_LOOKBACK} AND s.ts_ms <= st.t
  GROUP BY 1, 2, 3
)
SELECT t, event_type, round(sum(v), 2) AS value
FROM last GROUP BY 1, 2 ORDER BY 1, 2""",
)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`sum by (event_type) (app_events)` instant vectors with staleness
    lookback — broadcast range-join of samples against the step axis,
    last-sample-per-series via max_by."""
    engine = _promql_samples(spark, sf_dir)
    out = engine.query_range(
        "sum by (event_type) (app_events)",
        _P_START,
        _P_END,
        _P_STEP,
        lookback_ms=_P_LOOKBACK,
    )
    return out.select("t", "event_type", F.round("value", 2).alias("value"))


@query(
    "q34_promql_rate",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
),
b AS (
  SELECT event_type, shard, ts_ms, value,
         {_P_START} + ((ts_ms - {_P_START} + {_P_STEP - 1}) // {_P_STEP})
             * {_P_STEP} AS t
  FROM s WHERE ts_ms > {_P_START - _P_STEP} AND ts_ms <= {_P_END}
),
d AS (
  SELECT t, event_type, shard, ts_ms, value,
         lag(value) OVER (PARTITION BY t, event_type, shard
                          ORDER BY ts_ms, value) AS prev
  FROM b WHERE t <= {_P_END}
),
per_series AS (
  SELECT t, event_type, shard,
         arg_max(value, ts_ms) AS lastv, arg_min(value, ts_ms) AS firstv,
         max(ts_ms) AS last_ts, min(ts_ms) AS first_ts,
         sum(CASE WHEN prev IS NOT NULL AND value < prev
                  THEN prev ELSE 0.0 END) AS comp
  FROM d GROUP BY t, event_type, shard
),
rated AS (
  SELECT t, event_type, shard,
         (lastv - firstv + comp) / ((last_ts - first_ts) / 1000.0) AS value
  FROM per_series WHERE last_ts > first_ts
)
SELECT t, event_type, round(max(value), 4) AS value
FROM rated GROUP BY t, event_type ORDER BY t, event_type""",
)
def q34(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`max by (event_type) (rate(app_events[1d]))` — per-series rate with
    Prometheus counter-reset correction (each in-window decrease adds the
    pre-reset value; the oracle mirrors it with a lag() compensation sum),
    max across shards.  Documented deviation: no window-edge
    extrapolation.  max avoids cross-engine float summation entirely."""
    engine = _promql_samples(spark, sf_dir)
    out = engine.query_range(
        "max by (event_type) (rate(app_events[1d]))",
        _P_START,
        _P_END,
        _P_STEP,
    )
    return out.select("t", "event_type", F.round("value", 4).alias("value"))


@query(
    "q37_promql_topk_binary",
    f"""
WITH s AS (SELECT event_type, epoch_ms(ts) AS ts_ms FROM events),
b AS (
  SELECT event_type,
         {_P_START} + ((ts_ms - {_P_START} + {_P_STEP - 1}) // {_P_STEP})
             * {_P_STEP} AS t
  FROM s WHERE ts_ms > {_P_START - _P_STEP} AND ts_ms <= {_P_END}
),
counted AS (
  SELECT t, event_type, CAST(count(*) AS DOUBLE) AS value
  FROM b WHERE t <= {_P_END} GROUP BY t, event_type
),
ranked AS (
  SELECT t, event_type, value,
         row_number() OVER (PARTITION BY t
                            ORDER BY value DESC, event_type) AS rn
  FROM counted
)
SELECT t, event_type, value * 2.0 AS value
FROM ranked WHERE rn <= 2 ORDER BY t, event_type""",
)
def q37(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`topk(2, sum by (event_type) (count_over_time(app_events[1d]))) * 2`
    — per-step series selection (window over t, deterministic tie-break on
    labels) composed with scalar arithmetic."""
    engine = _promql_samples(spark, sf_dir)
    return engine.query_range(
        "topk(2, sum by (event_type) (count_over_time(app_events[1d]))) * 2",
        _P_START,
        _P_END,
        _P_STEP,
    )


@query(
    "q49_promql_on_group_left",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms
  FROM events
),
b AS (
  SELECT event_type, shard,
         {_P_START} + ((ts_ms - {_P_START} + {_P_STEP - 1}) // {_P_STEP})
             * {_P_STEP} AS t
  FROM s WHERE ts_ms > {_P_START - _P_STEP} AND ts_ms <= {_P_END}
),
per_shard AS (
  SELECT t, event_type, shard, CAST(count(*) AS DOUBLE) AS v
  FROM b WHERE t <= {_P_END} GROUP BY t, event_type, shard
),
per_type AS (
  SELECT t, event_type, sum(v) AS tot FROM per_shard GROUP BY t, event_type
)
SELECT p.t, p.event_type, p.shard, round(p.v / g.tot, 4) AS value
FROM per_shard p JOIN per_type g USING (t, event_type)
ORDER BY t, event_type, shard""",
)
def q49(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL `on()`/`group_left` vector matching: each shard's share of
    its event_type's traffic — a many-to-one join keyed on the named
    label subset instead of all shared labels (`a / on(event_type)
    group_left b`).  Integer-valued double sums keep the ratio exact
    across engines before the 4dp round."""
    engine = _promql_samples(spark, sf_dir)
    out = engine.query_range(
        "sum by (event_type, shard) (count_over_time(app_events[1d]))"
        " / on(event_type) group_left"
        " sum by (event_type) (count_over_time(app_events[1d]))",
        _P_START,
        _P_END,
        _P_STEP,
    )
    return out.select(
        "t", "event_type", "shard", F.round("value", 4).alias("value")
    )


@query(
    "q50_promql_rate_extrapolated",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
),
b AS (
  SELECT event_type, shard, ts_ms, value,
         {_P_START} + ((ts_ms - {_P_START} + {_P_STEP - 1}) // {_P_STEP})
             * {_P_STEP} AS t
  FROM s WHERE ts_ms > {_P_START - _P_STEP} AND ts_ms <= {_P_END}
),
d AS (
  SELECT t, event_type, shard, ts_ms, value,
         lag(value) OVER (PARTITION BY t, event_type, shard
                          ORDER BY ts_ms, value) AS prev
  FROM b WHERE t <= {_P_END}
),
per_series AS (
  SELECT t, event_type, shard,
         arg_max(value, ts_ms) AS lastv, arg_min(value, ts_ms) AS firstv,
         max(ts_ms) AS last_ts, min(ts_ms) AS first_ts,
         count(*) AS n,
         sum(CASE WHEN prev IS NOT NULL AND value < prev
                  THEN prev ELSE 0.0 END) AS comp
  FROM d GROUP BY t, event_type, shard
),
ext AS (
  SELECT t, event_type, shard,
         lastv - firstv + comp AS delta,
         firstv,
         CAST(last_ts - first_ts AS DOUBLE) AS sampled,
         CAST(last_ts - first_ts AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0)
             AS avgd,
         CAST(first_ts - (t - {_DAY_MS}) AS DOUBLE) AS dstart0,
         CAST(t - last_ts AS DOUBLE) AS dend0
  FROM per_series WHERE last_ts > first_ts
),
clamped AS (
  SELECT *,
    CASE WHEN dstart0 >= avgd * 1.1 THEN avgd / 2.0 ELSE dstart0 END
        AS dstart1,
    CASE WHEN dend0 >= avgd * 1.1 THEN avgd / 2.0 ELSE dend0 END AS dend
  FROM ext
),
zeroed AS (
  SELECT *,
    CASE WHEN delta > 0 AND firstv >= 0
              AND sampled * (firstv / delta) < dstart1
         THEN sampled * (firstv / delta) ELSE dstart1 END AS dstart
  FROM clamped
),
rated AS (
  SELECT t, event_type,
         delta * ((sampled + dstart + dend) / sampled) * 1000.0 / {_DAY_MS}
             AS value
  FROM zeroed
)
SELECT t, event_type, round(max(value), 4) AS value
FROM rated GROUP BY t, event_type ORDER BY t, event_type""",
)
def q50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`max by (event_type) (rate(app_events[1d]))` under Prometheus
    window-edge extrapolation (`extrapolate=True`): the in-window delta is
    scaled to the full range, clamped to half the average sample spacing
    at each edge and to the counter's estimated zero crossing.  The
    oracle reproduces the identical float-op order, so values match
    bit-for-bit before the 4dp round."""
    engine = _promql_samples_extrapolated(spark, sf_dir)
    out = engine.query_range(
        "max by (event_type) (rate(app_events[1d]))",
        _P_START,
        _P_END,
        _P_STEP,
    )
    return out.select("t", "event_type", F.round("value", 4).alias("value"))


_P_AT = _P_START + 7 * _DAY_MS  # `@` pin point for q51


@query(
    "q51_promql_without_at",
    f"""
WITH s AS (SELECT event_type, epoch_ms(ts) AS ts_ms FROM events),
w AS (
  SELECT event_type, CAST(count(*) AS DOUBLE) AS value
  FROM s WHERE ts_ms > {_P_AT - _DAY_MS} AND ts_ms <= {_P_AT}
  GROUP BY event_type
),
steps AS (
  SELECT {_P_START} + k * {_P_STEP} AS t
  FROM range(0, {(_P_END - _P_START) // _P_STEP + 1}) r(k)
)
SELECT st.t, w.event_type, w.value
FROM steps st CROSS JOIN w ORDER BY t, event_type""",
)
def q51(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`sum without (shard) (count_over_time(app_events[1d] @ T))` — the
    `@` modifier pins evaluation to one fixed window (evaluated ONCE,
    broadcast across the step axis by an explode, never recomputed per
    step) and `without` aggregates away only the listed label."""
    engine = _promql_samples(spark, sf_dir)
    return engine.query_range(
        f"sum without (shard) (count_over_time(app_events[1d] @ {_P_AT // 1000}))",
        _P_START,
        _P_END,
        _P_STEP,
    )


@query(
    "q52_promql_label_replace_clamp",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms
  FROM events
),
b AS (
  SELECT event_type, shard,
         {_P_START} + ((ts_ms - {_P_START} + {_P_STEP - 1}) // {_P_STEP})
             * {_P_STEP} AS t
  FROM s WHERE ts_ms > {_P_START - _P_STEP} AND ts_ms <= {_P_END}
),
counted AS (
  SELECT t, event_type, shard, CAST(count(*) AS DOUBLE) AS value
  FROM b WHERE t <= {_P_END} GROUP BY t, event_type, shard
)
SELECT t, event_type,
       CASE WHEN regexp_full_match(shard, '([0-3])')
            THEN regexp_replace(shard, '^(?:([0-3]))$', 's\\1')
            ELSE shard END AS shard,
       LEAST(value, 20.0) AS value
FROM counted ORDER BY t, event_type, 3""",
)
def q52(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`clamp_max(label_replace(...), 20)` — label_replace rewrites shards
    0-3 to s0..s3 via a fully-anchored regex with a $1 group reference
    (5-7 untouched), then clamp_max caps the per-shard counts; both are
    pure column expressions over the aggregated vector."""
    engine = _promql_samples(spark, sf_dir)
    return engine.query_range(
        'clamp_max(label_replace('
        "sum by (event_type, shard) (count_over_time(app_events[1d])),"
        ' "shard", "s$1", "shard", "([0-3])"), 20)',
        _P_START,
        _P_END,
        _P_STEP,
    )


# histogram_quantile: bucket boundaries for the synthesized `le` label
# (events.value spans 0.03..327)
_HQ_EDGES = ["25", "100", "250", "+Inf"]
_HQ_Q = 0.75

# shared oracle prelude: daily step bucketing of events (q19's pattern)
_HQ_BUCKET_CTE = f"""
WITH s AS (
  SELECT event_type, epoch_ms(ts) AS ts_ms, value FROM events
),
b AS (
  SELECT event_type, value,
         {_P_START} + ((ts_ms - {_P_START} + {_P_STEP - 1}) // {_P_STEP})
             * {_P_STEP} AS t
  FROM s WHERE ts_ms > {_P_START - _P_STEP} AND ts_ms <= {_P_END}
),
edges(le) AS (VALUES ('25'), ('100'), ('250'), ('+Inf')),
counted AS (
  SELECT t, event_type, le, CAST(count(*) AS DOUBLE) AS cnt
  FROM b CROSS JOIN edges
  WHERE t <= {_P_END}
    AND (le = '+Inf' OR value <= CAST(le AS DOUBLE))
  GROUP BY t, event_type, le
)
"""


@query(
    "q53_promql_histogram_quantile",
    _HQ_BUCKET_CTE
    + f"""
, nb AS (
  SELECT t, event_type,
         CASE WHEN le = '+Inf' THEN CAST('inf' AS DOUBLE)
              ELSE CAST(le AS DOUBLE) END AS le_n,
         cnt
  FROM counted
),
wn AS (
  SELECT t, event_type, le_n, cnt,
         lag(cnt, 1, 0.0) OVER (
             PARTITION BY t, event_type ORDER BY le_n) AS prev_cnt,
         lag(le_n) OVER (
             PARTITION BY t, event_type ORDER BY le_n) AS prev_le,
         max(cnt) OVER (PARTITION BY t, event_type) AS total,
         max(CASE WHEN isfinite(le_n) THEN le_n END)
             OVER (PARTITION BY t, event_type) AS max_fin
  FROM nb
),
sel AS (
  SELECT *, {_HQ_Q} * total AS rnk FROM wn
  WHERE cnt >= {_HQ_Q} * total
    AND (prev_cnt < {_HQ_Q} * total OR prev_le IS NULL)
)
SELECT t, event_type,
       round(CASE WHEN NOT isfinite(le_n) THEN max_fin
            ELSE COALESCE(prev_le, 0.0)
                 + (le_n - COALESCE(prev_le, 0.0))
                   * ((rnk - prev_cnt) / (cnt - prev_cnt)) END, 4) AS value
FROM sel ORDER BY t, event_type""",
)
def q53(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`histogram_quantile(0.75, sum by (event_type, le)
    (count_over_time(app_lat_bucket[1d])))` — the events table is
    bucket-ified into a cumulative-`le` histogram metric (each observation
    lands in every bucket it fits), then the engine finds the rank bucket
    per (step, event_type) and interpolates; one window shuffle, all JVM.
    """
    from tsdb_parquet_spark.plans.promql import PromQLEngine

    ev = _cat(spark, sf_dir)["events"]
    edges = F.array(*[F.lit(e) for e in _HQ_EDGES])
    samples = ev.select(
        F.lit("app_lat_bucket").alias("__name__"),
        F.col("event_type"),
        F.explode(
            F.filter(
                edges,
                lambda e: (e == "+Inf") | (F.col("value") <= e.cast("double")),
            )
        ).alias("le"),
        F.expr("ts div 1000000").alias("ts"),
        F.lit(1.0).alias("value"),
    )
    engine = PromQLEngine(samples)
    out = engine.query_range(
        f"histogram_quantile({_HQ_Q}, sum by (event_type, le)"
        " (count_over_time(app_lat_bucket[1d])))",
        _P_START,
        _P_END,
        _P_STEP,
    )
    return out.select("t", "event_type", F.round("value", 4).alias("value"))


@query(
    "q54_promql_comparison_filter",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
),
b AS (
  SELECT event_type, shard, value,
         {_P_START} + ((ts_ms - {_P_START} + {_P_STEP - 1}) // {_P_STEP})
             * {_P_STEP} AS t
  FROM s WHERE ts_ms > {_P_START - _P_STEP} AND ts_ms <= {_P_END}
),
m AS (
  SELECT t, event_type, shard, max(value) AS value
  FROM b WHERE t <= {_P_END} GROUP BY t, event_type, shard
)
SELECT t, event_type, shard, round(value, 4) AS value
FROM m WHERE value > 150 ORDER BY t, event_type, shard""",
)
def q54(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`max_over_time(app_events[1d]) > 150` — a comparison against a
    scalar FILTERS the vector (value kept); evaluated over the full
    chunk-store pipeline, the predicate is one Catalyst filter on the
    aggregated frame."""
    engine = _promql_samples(spark, sf_dir)
    out = engine.query_range(
        "max_over_time(app_events[1d]) > 150",
        _P_START,
        _P_END,
        _P_STEP,
    )
    return out.select(
        "t", "event_type", "shard", F.round("value", 4).alias("value")
    )


@query(
    "q55_promql_changes",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
),
b AS (
  SELECT event_type, shard, ts_ms, value,
         {_P_START} + ((ts_ms - {_P_START} + {_P_STEP - 1}) // {_P_STEP})
             * {_P_STEP} AS t
  FROM s WHERE ts_ms > {_P_START - _P_STEP} AND ts_ms <= {_P_END}
),
lagged AS (
  SELECT t, event_type, shard, value,
         lag(value) OVER (
             PARTITION BY t, event_type, shard
             ORDER BY ts_ms, value) AS pv
  FROM b WHERE t <= {_P_END}
)
SELECT t, event_type, shard,
       CAST(count(*) FILTER (WHERE pv IS NOT NULL AND value <> pv)
            AS DOUBLE) AS value
FROM lagged GROUP BY t, event_type, shard
ORDER BY t, event_type, shard""",
)
def q55(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`changes(app_events[1d])` — per-series count of adjacent value
    changes inside each window; the engine's sorted-array HOF vs the
    oracle's lag window (ORDER BY ts, value mirrors array_sort's
    struct order)."""
    engine = _promql_samples(spark, sf_dir)
    return engine.query_range(
        "changes(app_events[1d])",
        _P_START,
        _P_END,
        _P_STEP,
    )


@query(
    "q56_promql_quantile_over_time",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
),
b AS (
  SELECT event_type, shard, value,
         {_P_START} + ((ts_ms - {_P_START} + {_P_STEP - 1}) // {_P_STEP})
             * {_P_STEP} AS t
  FROM s WHERE ts_ms > {_P_START - _P_STEP} AND ts_ms <= {_P_END}
)
SELECT t, event_type, shard,
       round(quantile_cont(value, 0.9), 4) AS value
FROM b WHERE t <= {_P_END} GROUP BY t, event_type, shard
ORDER BY t, event_type, shard""",
)
def q56(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`quantile_over_time(0.9, app_events[1d])` — exact
    linear-interpolation percentile per (series, window); Spark
    `percentile` and DuckDB `quantile_cont` share the interpolation
    formula, and 4dp rounding on both sides absorbs the last-bit
    difference in their interpolation arithmetic."""
    engine = _promql_samples(spark, sf_dir)
    out = engine.query_range(
        "quantile_over_time(0.9, app_events[1d])",
        _P_START,
        _P_END,
        _P_STEP,
    )
    return out.select(
        "t", "event_type", "shard", F.round("value", 4).alias("value")
    )


@query(
    "q57_asof_join",
    """
WITH p AS (
  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
         value AS purchase_value
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, value AS click_value
  FROM events WHERE event_type = 'click'
)
SELECT p.event_id, p.user_id, p.ts_ms, p.purchase_value,
       c.ts_ms AS ts_ms_click, c.click_value AS click_value_click
FROM p ASOF LEFT JOIN c
  ON p.user_id = c.user_id AND p.ts_ms >= c.ts_ms
ORDER BY p.event_id""",
)
def q57(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest
    at-or-before click (`operators/asof.py` — merge-formulation window,
    one key shuffle, no range join); the oracle is DuckDB's native
    ASOF LEFT JOIN."""
    from tsdb_parquet_spark.operators.asof import asof_join

    ev = _cat(spark, sf_dir)["events"]
    base = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.expr("ts div 1000000").alias("ts_ms"),
        "value",
    )
    purchases = base.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_ms", F.col("value").alias("purchase_value")
    )
    clicks = base.filter(F.col("event_type") == "click").select(
        "user_id", "ts_ms", F.col("value").alias("click_value")
    )
    out = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts_ms",
        right_ts="ts_ms",
        suffix="_click",
    )
    return out.orderBy("event_id")


@query(
    "q61_gap_fill_linear",
    f"""
WITH e AS (
  SELECT event_type,
         (epoch_ms(ts) // {_DAY_MS}) * {_DAY_MS} AS t0
  FROM events
),
s AS (
  SELECT event_type, t0, CAST(count(*) AS DOUBLE) AS v
  FROM e
  WHERE t0 >= {_P_START} AND t0 <= {_P_END}
    AND (t0 // {_DAY_MS}) % 3 = 0
  GROUP BY event_type, t0
),
keys AS (SELECT DISTINCT event_type FROM s),
grid AS (
  SELECT event_type, r.t
  FROM keys CROSS JOIN range({_P_START}, {_P_END + 1}, {_DAY_MS}) r(t)
),
u AS (
  SELECT event_type, t0 AS ts, v, 0 AS side FROM s
  UNION ALL
  SELECT event_type, t, CAST(NULL AS DOUBLE), 1 FROM grid
),
w AS (
  SELECT event_type, ts, side,
    last_value(CASE WHEN side = 0 THEN {{'ts': ts, 'v': v}} END IGNORE NULLS)
      OVER (PARTITION BY event_type ORDER BY ts, side
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
    first_value(CASE WHEN side = 0 THEN {{'ts': ts, 'v': v}} END IGNORE NULLS)
      OVER (PARTITION BY event_type ORDER BY ts, side
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n
  FROM u
)
SELECT ts AS t, event_type,
       round(CASE WHEN p.ts = ts THEN p.v
             WHEN p.ts IS NOT NULL AND n.ts IS NOT NULL
             THEN p.v + (n.v - p.v) * ((ts - p.ts) / (n.ts - p.ts))
             END, 4) AS value
FROM w WHERE side = 1 ORDER BY t, event_type""",
)
def q61(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap-fill onto the daily grid (`operators/gapfill.py`):
    daily event counts kept only every third day, holes interpolated
    between the surviving knots (NULL outside the observed span); the
    merge-window plan shares one sort for both directions — a single
    key shuffle, no range join."""
    from tsdb_parquet_spark.operators.gapfill import gap_fill

    ev = _cat(spark, sf_dir)["events"]
    t0 = F.expr(f"((ts div 1000000) div {_DAY_MS}) * {_DAY_MS}")
    daily = (
        ev.select("event_type", t0.alias("t0"))
        .filter(
            (F.col("t0") >= _P_START)
            & (F.col("t0") <= _P_END)
            & (F.expr(f"(t0 div {_DAY_MS}) % 3") == 0)
        )
        .groupBy("event_type", "t0")
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
    )
    out = gap_fill(
        daily,
        ["event_type"],
        _P_START,
        _P_END,
        _DAY_MS,
        ts_col="t0",
        method="linear",
    )
    return out.select(
        "t", "event_type", F.round("value", 4).alias("value")
    ).orderBy("t", "event_type")


@query(
    "q64_promql_absent",
    f"""
WITH s AS (
  SELECT epoch_ms(ts) AS ts_ms FROM events
  WHERE event_type = 'error' AND user_id % 8 = 7
    AND (epoch_ms(ts) // {_DAY_MS}) % 5 = 0
),
b AS (
  SELECT DISTINCT
         {_P_START} + ((ts_ms - {_P_START} + {_P_STEP - 1}) // {_P_STEP})
             * {_P_STEP} AS t
  FROM s WHERE ts_ms > {_P_START - _P_STEP} AND ts_ms <= {_P_END}
),
steps AS (
  SELECT {_P_START} + k * {_P_STEP} AS t
  FROM range(0, {(_P_END - _P_START) // _P_STEP + 1}) r(k)
)
SELECT st.t, 'error' AS event_type, '7' AS shard,
       CAST(1.0 AS DOUBLE) AS value
FROM steps st LEFT JOIN b ON b.t = st.t
WHERE b.t IS NULL ORDER BY st.t""",
)
def q64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`absent_over_time(app_events_sparse{event_type="error",
    shard="7"}[1d])` — 1.0 at every day with no matching sample; the
    step axis anti-joined against the distinct present steps (both
    sides O(steps)), labels synthesized from the equality matchers.
    The samples keep only every fifth day so absences exist at every
    scale factor (a dense series would make this a 0-row check)."""
    from tsdb_parquet_spark.plans.promql import PromQLEngine

    ev = _cat(spark, sf_dir)["events"]
    samples = ev.select(
        F.lit("app_events_sparse").alias("__name__"),
        F.col("event_type"),
        (F.col("user_id") % 8).cast("string").alias("shard"),
        F.expr("ts div 1000000").alias("ts"),
        F.col("value"),
    ).filter(F.expr(f"(ts div {_DAY_MS}) % 5") == 0)
    engine = PromQLEngine(samples)
    return engine.query_range(
        'absent_over_time(app_events_sparse{event_type="error",'
        ' shard="7"}[1d])',
        _P_START,
        _P_END,
        _P_STEP,
    )


def events_rollup_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf_dir) the daily rollup store derived from the
    events chunk store."""
    from tsdb_parquet_spark.sources.rollup import rollup_store

    tag = os.path.basename(sf_dir.rstrip("/"))
    work = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")
    dest = os.path.join(work, f"rollup_store_v3_{tag}")
    if os.path.exists(os.path.join(dest, "_SUCCESS")):
        return dest
    src = events_chunk_store(spark, sf_dir)
    # staged build + atomic rename publish (same contract as
    # events_chunk_store — q77 reads this store)
    with _staged_publish(dest, marker="_SUCCESS") as build:
        rollup_store(spark, src, build, _CHUNK_LABELS, step_ms=_DAY_MS)
    return dest


@query(
    "q65_rollup_store",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
),
b AS (
  SELECT event_type, shard, value,
         ((ts_ms + {_DAY_MS - 1}) // {_DAY_MS}) * {_DAY_MS} AS t
  FROM s
)
SELECT t, event_type, shard,
       round(sum(value), 2) AS value_sum,
       CAST(count(*) AS DOUBLE) AS value_count,
       round(max(value), 4) AS value_max
FROM b GROUP BY t, event_type, shard
ORDER BY t, event_type, shard""",
)
def q65(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily downsampling rollup store (`sources/rollup.py`): raw chunk
    store -> decode -> one-shuffle multi-aggregate downsample ->
    recording-rule series (`app_events:sum|count|max`) -> re-chunk ->
    sorted write; read back through the standard querier and pivoted,
    it must equal the oracle's daily aggregates of the raw events."""
    from tsdb_parquet_spark.querier import ChunkQuerier

    store = events_rollup_store(spark, sf_dir)
    samples = ChunkQuerier.from_parquet(spark, store).select_samples(
        labels=_CHUNK_LABELS
    )
    wide = (
        samples.groupBy(F.col("ts").alias("t"), "event_type", "shard")
        .pivot(
            "__name__",
            ["app_events:sum", "app_events:count", "app_events:max"],
        )
        .agg(F.first("value"))
    )
    return wide.select(
        "t",
        "event_type",
        "shard",
        F.round(F.col("`app_events:sum`"), 2).alias("value_sum"),
        F.col("`app_events:count`").alias("value_count"),
        F.round(F.col("`app_events:max`"), 4).alias("value_max"),
    ).orderBy("t", "event_type", "shard")


def _multi_label_stores(spark: SparkSession, sf_dir: str) -> list[str]:
    """Build (once per sf_dir) two chunk stores with DISAGREEING label
    schemas from the events table — store A labels (__name__, event_type),
    store B labels (__name__, region) — the situation `from_stores` exists
    for (reference schemas are data-inferred per file, `schema/chunk.go:
    87-95`; absent labels read as "" per `schema/chunk.go:109-112`)."""
    from tsdb_parquet_spark.chunks import samples_to_chunks
    from tsdb_parquet_spark.schema import sort_columns
    from tsdb_parquet_spark.sources.writer import WriterOptions, write_sorted

    tag = os.path.basename(sf_dir.rstrip("/"))
    work = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")
    root = os.path.join(work, f"multistore_v2_{tag}")
    out = [os.path.join(root, "store_a"), os.path.join(root, "store_b")]
    if all(os.path.exists(os.path.join(p, "_SUCCESS")) for p in out):
        return out

    ev = _cat(spark, sf_dir)["events"]
    base = ev.select(
        F.col("event_type"),
        (F.col("user_id") % 4).cast("string").alias("region"),
        F.expr("ts div 1000000").alias("ts"),
        F.col("value"),
    )
    specs = [
        ("store_a", ["__name__", "event_type"],
         base.filter(F.col("event_type").isin("click", "view"))
             .select(F.lit("app_events").alias("__name__"),
                     "event_type", "ts", "value")),
        ("store_b", ["__name__", "region"],
         base.filter(F.col("event_type") == "purchase")
             .select(F.lit("app_events").alias("__name__"),
                     "region", "ts", "value")),
    ]
    with _staged_publish(root, marker="store_b/_SUCCESS") as build:
        for name, labels, samples in specs:
            chunks = samples_to_chunks(samples, labels, chunk_span_ms=_DAY_MS)
            write_sorted(
                chunks, os.path.join(build, name),
                WriterOptions(sort_columns=sort_columns(labels), max_files=4),
            )
    return out


@query(
    "q45_multi_store_merge",
    """
WITH a AS (
  SELECT event_type, '' AS region, value FROM events
  WHERE event_type IN ('click', 'view')
),
b AS (
  SELECT '' AS event_type, CAST(user_id % 4 AS VARCHAR) AS region, value
  FROM events WHERE event_type = 'purchase'
),
u AS (SELECT * FROM a UNION ALL SELECT * FROM b)
SELECT event_type, region,
       count(*) AS n_samples,
       round(sum(value), 2) AS sum_value
FROM u GROUP BY event_type, region ORDER BY event_type, region""",
)
def q45(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query across two chunk stores whose label schemas disagree:
    `from_stores` merges the schemas (mergeSchema) and ""-fills labels a
    store lacks (`schema/chunk.go:109-112` semantics), so one decode +
    aggregate runs over the union.  The oracle rebuilds the same union
    from the raw events."""
    from tsdb_parquet_spark.querier import ChunkQuerier

    q = ChunkQuerier.from_stores(spark, _multi_label_stores(spark, sf_dir))
    samples = q.select_samples(labels=["event_type", "region"])
    return (
        samples.groupBy("event_type", "region")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("event_type", "region")
    )


_SESSION_GAP_MS = 86_400_000  # 1-day gap -> ~1.2k sessions at sf0.01


def _session_oracle() -> str:
    from tsdb_parquet_spark.streaming.sessions import sql_sessionize

    inner = sql_sessionize(
        ["user_id"], table="events", ts_expr="epoch_ms(ts)",
        value_expr="value", gap_ms=_SESSION_GAP_MS,
    )
    return f"""
WITH sess AS ({inner})
SELECT user_id, session_id, session_start, session_end, n_events,
       round(sum_value, 2) AS sum_value
FROM sess ORDER BY user_id, session_id"""


@query("q46_sessionize", _session_oracle())
def q46(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (gaps-and-islands) over app events: the
    batch half of `streaming/sessions.py`, oracle built from the module's
    own `sql_sessionize` twin.  Plan: one hash-partition shuffle on
    user_id shared by both windows and the session groupBy (asserted in
    `tests/test_sessions.py`); parallelism bounded by |users|, never a
    single-task global window."""
    from tsdb_parquet_spark.streaming.sessions import sessionize

    events = _cat(spark, sf_dir).table("events").select(
        "user_id", F.expr("ts div 1000000").alias("ts"), "value"
    )
    sess = sessionize(events, ["user_id"], value_col="value",
                      gap_ms=_SESSION_GAP_MS)
    return sess.select(
        "user_id", "session_id", "session_start", "session_end", "n_events",
        F.round("sum_value", 2).alias("sum_value"),
    ).orderBy("user_id", "session_id")


_P_WEEK = 7 * _DAY_MS


@query(
    "q42_promql_window_gt_step",
    f"""
WITH s AS (SELECT event_type, epoch_ms(ts) AS ts_ms FROM events),
steps AS (SELECT t FROM range({_P_START}, {_P_END + 1}, {_P_STEP}) r(t)),
b AS (
  SELECT st.t, s.event_type
  FROM steps st JOIN s
    ON s.ts_ms > st.t - {_P_WEEK} AND s.ts_ms <= st.t
)
SELECT t, event_type, CAST(count(*) AS DOUBLE) AS value
FROM b GROUP BY t, event_type ORDER BY t, event_type""",
)
def q42(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`sum by (event_type) (count_over_time(app_events[7d]))` at 1d step —
    the general window > step path: arithmetic step fan-out
    (explode(sequence(k_first, k_last))), each sample emitting exactly its
    ~7 step rows; no join, no BroadcastNestedLoopJoin (plan-asserted in
    tests/test_plans.py).  The oracle is free to use the O(samples x
    steps) join DuckDB-side."""
    engine = _promql_samples(spark, sf_dir)
    return engine.query_range(
        "sum by (event_type) (count_over_time(app_events[7d]))",
        _P_START,
        _P_END,
        _P_STEP,
    )


@query(
    "q43_promql_counter_reset",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms,
         CAST((epoch_ms(ts) // 1000) % 1000 AS DOUBLE) AS value
  FROM events
),
steps AS (SELECT t FROM range({_P_START}, {_P_END + 1}, {_P_STEP}) r(t)),
b AS (
  SELECT st.t, s.event_type, s.shard, s.ts_ms, s.value
  FROM steps st JOIN s
    ON s.ts_ms > st.t - {2 * _DAY_MS} AND s.ts_ms <= st.t
),
d AS (
  SELECT t, event_type, shard, ts_ms, value,
         lag(value) OVER (PARTITION BY t, event_type, shard
                          ORDER BY ts_ms, value) AS prev
  FROM b
),
per_series AS (
  SELECT t, event_type, shard,
         arg_max(value, ts_ms) AS lastv, arg_min(value, ts_ms) AS firstv,
         max(ts_ms) AS last_ts, min(ts_ms) AS first_ts,
         sum(CASE WHEN prev IS NOT NULL AND value < prev
                  THEN prev ELSE 0.0 END) AS comp
  FROM d GROUP BY t, event_type, shard
),
inc AS (
  SELECT t, event_type, shard, lastv - firstv + comp AS value
  FROM per_series WHERE last_ts > first_ts
)
SELECT t, event_type, round(max(value), 4) AS value
FROM inc GROUP BY t, event_type ORDER BY t, event_type""",
)
def q43(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`max by (event_type) (increase(app_counter[2d]))` over a synthetic
    sawtooth counter (value = (ts_s) % 1000 — resets every ~17 min):
    exercises counter-reset compensation AND the window > step fan-out in
    one query.  The oracle reproduces the compensation with a lag()
    window; a last-first delta WITHOUT reset handling diverges wildly
    here, so a hash match proves the Prometheus semantics."""
    from tsdb_parquet_spark.plans.promql import PromQLEngine

    ev = _cat(spark, sf_dir)["events"]
    samples = ev.select(
        F.lit("app_counter").alias("__name__"),
        F.col("event_type"),
        (F.col("user_id") % 8).cast("string").alias("shard"),
        F.expr("ts div 1000000").alias("ts"),
        F.expr("CAST((ts div 1000000000) % 1000 AS DOUBLE)").alias("value"),
    )
    engine = PromQLEngine(samples)
    out = engine.query_range(
        "max by (event_type) (increase(app_counter[2d]))",
        _P_START,
        _P_END,
        _P_STEP,
    )
    return out.select("t", "event_type", F.round("value", 4).alias("value"))


# ---------------------------------------------------------------------------
# q21 — streaming ingestion (M4; upgrades the reference's one-shot batch
# converter `cmd/convert/main.go:23-126` to Structured Streaming)
# ---------------------------------------------------------------------------


@query(
    "q21_streaming_ingest",
    """SELECT count(*) AS n_samples,
              round(sum(value), 2) AS sum_value,
              min(epoch_ms(ts)) AS min_ts,
              max(epoch_ms(ts)) AS max_ts,
              count(DISTINCT event_type) AS n_types
       FROM events""",
)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events replayed through readStream -> watermark + dedup on event_id
    -> per-micro-batch sorted chunk parts -> compaction; the aggregate runs
    over OUR streamed+compacted store (decoded samples), the oracle over
    the original events — a hash match proves streaming ingestion is
    lossless end-to-end."""
    import shutil

    from tsdb_parquet_spark.querier import ChunkQuerier
    from tsdb_parquet_spark.streaming.ingest import StreamingChunkIngestor

    cat = _cat(spark, sf_dir)
    tag = os.path.basename(sf_dir.rstrip("/"))
    work = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")
    root = os.path.join(work, f"stream_store_v3_{tag}")
    compact_dir = os.path.join(root, "compact")

    if not os.path.exists(os.path.join(compact_dir, "_SUCCESS")):
        with _staged_publish(root, marker="compact/_SUCCESS") as build:
            # the file stream source requires a directory to watch; keep
            # it inside the pid-scoped build dir so racing builds never
            # share (or tear) a staged file
            staging = os.path.join(build, ".staging")
            os.makedirs(staging)
            shutil.copy(
                os.path.join(sf_dir, "events.parquet"),
                os.path.join(staging, "events.parquet"),
            )
            # schema of the staged RAW file (the catalog's view normalizes
            # ts to int64 ns, which would not match the file for readStream)
            events_schema = spark.read.parquet(staging).schema

            def to_samples(batch):
                return batch.select(
                    F.lit("app_events").alias("__name__"),
                    F.col("event_type"),
                    (F.col("user_id") % 8).cast("string").alias("shard"),
                    F.expr("ts div 1000000").alias("ts"),
                    F.col("value"),
                )

            ingestor = StreamingChunkIngestor(
                spark,
                build,
                _CHUNK_LABELS,
                to_samples,
                chunk_span_ms=_DAY_MS,
            )
            from tsdb_parquet_spark.catalog import normalize_event_time

            stream = normalize_event_time(
                spark.readStream.schema(events_schema).parquet(staging)
            ).withColumn(
                "__event_time", F.timestamp_micros(F.expr("ts div 1000"))
            )
            ingestor.ingest(
                stream, dedup_key="event_id", event_time_col="__event_time"
            )
            ingestor.finalize()

    q = ChunkQuerier.from_parquet(spark, compact_dir)
    samples = q.select_samples(labels=["event_type"])
    return samples.agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        F.countDistinct("event_type").alias("n_types"),
    )


# ---------------------------------------------------------------------------
# q22-q25 — deduplication suite (LLM-data-pipeline operators)
# ---------------------------------------------------------------------------
#
# The documents table has no native duplicates, so each query synthesizes
# them with engine-reproducible transforms (UNION ALL of exact copies /
# token-appended near-copies) before running the operator.

from tsdb_parquet_spark.functions import dedup as D  # noqa: E402
from tsdb_parquet_spark.functions import pipeline as PL  # noqa: E402
from tsdb_parquet_spark.functions import text as TX  # noqa: E402


def _doubled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _cat(spark, sf_dir)["documents"].select("doc_id", "text")
    return docs.union(docs.select(F.col("doc_id") + 500000, F.col("text")))


def _near_dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        _cat(spark, sf_dir)["documents"]
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 200)
    )
    mutated = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz qq xx")).alias("text"),
    )
    return docs.union(mutated)


_SQL_NEAR_DUP_DOCS = """
docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 200
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text || ' zz qq xx' AS text
  FROM documents WHERE doc_id < 200
)"""

_SQL_LSH_PIPELINE = f"""
WITH {_SQL_NEAR_DUP_DOCS},
sh AS (SELECT doc_id, {D.sql_shingles('text')} AS shingles FROM docs),
mh AS (SELECT doc_id, {D.sql_minhash_from_shingles('shingles')} AS sig
       FROM sh WHERE len(shingles) > 0),
bands AS (
  SELECT doc_id, j,
         md5(array_to_string(sig[j*2+1:j*2+2], '')) AS bucket
  FROM mh CROSS JOIN (SELECT unnest(range(0, 4)) AS j) _b
),
pairs AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l JOIN bands r
    ON l.j = r.j AND l.bucket = r.bucket AND l.doc_id < r.doc_id
)"""


@query(
    "q22_exact_dedup",
    f"""WITH docs AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 500000 AS doc_id, text FROM documents
        )
        SELECT {TX.sql_fingerprint('text')} AS fp,
               min(doc_id) AS keep_id,
               count(*) AS n_copies
        FROM docs GROUP BY 1 ORDER BY keep_id""",
)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-text fingerprint over a corpus with every
    document duplicated: one group per text, keep_id = original doc,
    n_copies = 2."""
    return D.exact_dedup_groups(_doubled_docs(spark, sf_dir)).orderBy("keep_id")


@query(
    "q23_minhash_lsh_pairs",
    _SQL_LSH_PIPELINE + "\nSELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b",
)
def q23(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8)+LSH(4 bands x 2 rows) candidate pairs over a corpus with
    token-appended near-duplicates: signature -> band buckets -> bucket
    self-join (never O(n^2))."""
    pairs = D.lsh_candidate_pairs(
        _near_dup_docs(spark, sf_dir), num_hashes=8, bands=4, shingle_size=3,
        eager=False,  # single-shot: skip the upfront checkpoint
    )
    return pairs.orderBy("doc_a", "doc_b")


@query(
    "q24_simhash",
    D.sql_simhash("(SELECT doc_id, text FROM documents WHERE doc_id < 100) _d")
    + "\nORDER BY doc_id",
)
def q24(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (token bit votes via md5 nibbles) — the
    near-dup sketch whose Hamming distance approximates cosine distance."""
    docs = (
        _cat(spark, sf_dir)["documents"]
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 100)
    )
    return D.simhash(docs).orderBy("doc_id")


@query(
    "q62_simhash_near_dup",
    D.sql_simhash_near_duplicates("documents", max_hamming=3)
    + "\nORDER BY doc_a, doc_b",
)
def q62(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-distance near-duplicates, banded 4x4 bits: any
    pair within 3 differing bits shares a band by pigeonhole, so the
    bucketed self-join generates a COMPLETE candidate set (never
    all-pairs) and bit_count(xor) verifies exactly — pure integer ops
    end to end."""
    docs = _cat(spark, sf_dir)["documents"].select("doc_id", "text")
    out = D.simhash_near_duplicates(docs, max_hamming=3)
    return out.orderBy("doc_a", "doc_b")


_SQL_JACCARD = """
SELECT p.doc_a, p.doc_b,
       round(
         CAST(len(list_filter(list_distinct({A}), x ->
                  list_contains(list_distinct({B}), x))) AS DOUBLE)
         / (len(list_distinct({A})) + len(list_distinct({B}))
            - len(list_filter(list_distinct({A}), x ->
                  list_contains(list_distinct({B}), x)))), 4) AS jaccard
FROM pairs p
JOIN sh a ON a.doc_id = p.doc_a
JOIN sh b ON b.doc_id = p.doc_b
WHERE len(list_distinct({A})) + len(list_distinct({B})) > 0
""".format(A="a.shingles", B="b.shingles")


@query(
    "q25_ngram_jaccard",
    _SQL_LSH_PIPELINE
    + f""",
scored AS ({_SQL_JACCARD})
SELECT doc_a, doc_b, jaccard FROM scored
WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""",
)
def q25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard verification of the LSH candidates (the refine
    step): two id-keyed joins back to the texts, no quadratic stage."""
    docs = _near_dup_docs(spark, sf_dir)
    pairs = D.lsh_candidate_pairs(docs, num_hashes=8, bands=4, shingle_size=3,
                                  eager=False)
    return D.verify_pairs_jaccard(docs, pairs, threshold=0.5).orderBy(
        "doc_a", "doc_b"
    )


@query(
    "q47_dedup_clusters",
    _SQL_LSH_PIPELINE.replace("\nWITH ", "\nWITH RECURSIVE ", 1)
    + """,
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
walk(node, label) AS (
  SELECT DISTINCT src AS node, src AS label FROM edges
  UNION
  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
),
cc AS (SELECT node, min(label) AS cluster_id FROM walk GROUP BY node)
SELECT cluster_id,
       count(*) AS n_members,
       max(node) AS max_member
FROM cc GROUP BY cluster_id ORDER BY cluster_id""",
)
def q47(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs -> duplicate CLUSTERS: connected components (iterative
    min-label propagation, `functions/clusters.py`) over the q23 LSH
    candidate pairs, summarized per component.  The oracle resolves the
    same components with a recursive CTE — viable at oracle scale only;
    the Spark loop is the shape that survives 100 TB (per-round equi-join
    + groupBy, rounds = component diameter)."""
    from tsdb_parquet_spark.functions.clusters import connected_components

    pairs = D.lsh_candidate_pairs(
        _near_dup_docs(spark, sf_dir), num_hashes=8, bands=4, shingle_size=3
    )
    stats: dict = {}
    cc = connected_components(pairs, src="doc_a", dst="doc_b", stats=stats)
    # telemetry gate: LSH dup clusters are near-cliques (diameter <= ~3)
    # on THIS corpus; chain-shaped candidate graphs (A~B~C~... with only
    # adjacent band agreement) are legal LSH output though, so the bound
    # leaves headroom above the clique case — it flags a propagation
    # REGRESSION (e.g. losing the fused seed round), not data shape.
    # RuntimeError so `python -O` cannot strip the check.
    if stats["rounds"] > 6:
        raise RuntimeError(
            f"label propagation took {stats['rounds']} rounds "
            "(> regression bound 6) on a near-clique dup graph"
        )
    return (
        cc.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max("node").alias("max_member"),
        )
        .orderBy("cluster_id")
    )


_MIX_SEED = "mix1"
_MIX_RATES = {"en": 0.25}  # downsample English; keep all low-resource langs
_MIX_DEFAULT = 1.0


def _mixture_oracle() -> str:
    from tsdb_parquet_spark.functions.sampling import (
        hex_threshold,
        sample_draw_sql,
    )

    draw = sample_draw_sql("doc_id", _MIX_SEED)
    case = (
        "CASE lang WHEN 'en' THEN '" + hex_threshold(_MIX_RATES["en"])
        + "' ELSE '" + hex_threshold(_MIX_DEFAULT) + "' END"
    )
    return f"""
SELECT doc_id, lang FROM documents
WHERE {draw} < {case}
ORDER BY doc_id"""


@query("q48_stratified_sample", _mixture_oracle())
def q48(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-governed deterministic sampling: per-language keep rates
    (25% of English, 100% of everything else) as a pure md5-threshold
    scan filter (`functions/sampling.py`) — the selected id set is a
    function of (seed, doc_id) only, hence identical in Spark and the
    DuckDB oracle, across runs, partitionings, and engines."""
    from tsdb_parquet_spark.functions.sampling import stratified_sample

    docs = _cat(spark, sf_dir)["documents"].select("doc_id", "lang")
    return stratified_sample(
        docs, "lang", _MIX_RATES, key_col="doc_id", seed=_MIX_SEED,
        default_fraction=_MIX_DEFAULT,
    ).orderBy("doc_id")


_WS_SEED = "wlen1"
_WS_SCALE = 0.002  # n_chars 47..558 -> keep rates ~0.09 .. clamp at 1.0


def _weighted_oracle() -> str:
    from tsdb_parquet_spark.functions.sampling import weighted_sample_sql

    pred = weighted_sample_sql("doc_id", "n_chars", _WS_SCALE, _WS_SEED)
    return f"""
SELECT doc_id, n_chars FROM documents
WHERE {pred}
ORDER BY doc_id"""


@query("q63_weighted_sample", _weighted_oracle())
def q63(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-proportional deterministic sampling: keep probability
    min(1, n_chars * 0.002) per document, as a pure scan-fused
    md5-vs-printf-hex compare (`functions/sampling.py:weighted_sample`)
    — still zero shuffle, and the selected set is identical across
    engines, runs, and partitionings."""
    from tsdb_parquet_spark.functions.sampling import weighted_sample

    docs = _cat(spark, sf_dir)["documents"].select("doc_id", "n_chars")
    return weighted_sample(
        docs, key_col="doc_id", weight_col="n_chars",
        scale=_WS_SCALE, seed=_WS_SEED,
    ).orderBy("doc_id")


@query(
    "q85_salted_distinct_count",
    """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT)
           AS n_distinct
       FROM events GROUP BY event_type ORDER BY event_type""",
)
def q85(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe exact distinct count (`operators/skew.py`): dedup on
    (key, content-salt, value) spreads a hot key over 16 tasks before
    the per-key count — the holistic-aggregation shape a 100 TB hot-key
    distribution requires (plain count(DISTINCT) funnels each key into
    one reduce task).  Salts partition the value space disjointly, so
    the post-dedup count is exact — proven by the oracle's plain
    count(DISTINCT)."""
    from tsdb_parquet_spark.operators.skew import (
        salted_exact_distinct_count,
    )

    ev = _cat(spark, sf_dir)["events"].select("event_type", "user_id")
    return salted_exact_distinct_count(
        ev, keys=["event_type"], value_col="user_id", buckets=16
    ).orderBy("event_type")


@query(
    "q86_bucketed_colocated_join",
    """SELECT o.o_orderpriority,
              CAST(count(*) AS BIGINT) AS n_items,
              round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
                  AS revenue
       FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
       GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""",
)
def q86(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-shuffle fact-fact join (`sources/bucketed.py`): lineitem and
    orders written co-bucketed by order key (external tables under
    .work), joined bucket-to-bucket — the plan gate raises unless the
    join is a SortMergeJoin with NO shuffle exchange on either side (the
    merge hint keeps the 100 TB plan shape even though test-scale orders
    would broadcast).  The oracle computes the same revenue rollup from
    the unbucketed tables."""
    from tsdb_parquet_spark.sources.bucketed import (
        colocated_join,
        write_bucketed,
    )

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    work = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")
    cat = _cat(spark, sf_dir)
    li_t, od_t = f"b_lineitem_{tag}", f"b_orders_{tag}"
    # in-memory catalog: table metadata dies with the session, but the
    # bucketed DATA survives under .work — re-attach it with a CREATE
    # TABLE DDL (milliseconds) and only rewrite when absent
    li_df = cat["lineitem"].select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    od_df = cat["orders"].select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    from tsdb_parquet_spark.sources.bucketed import register_bucketed

    li_path = os.path.join(work, f"bucketed_{tag}", "lineitem")
    od_path = os.path.join(work, f"bucketed_{tag}", "orders")
    for t, df_, path in ((li_t, li_df, li_path), (od_t, od_df, od_path)):
        if register_bucketed(
            spark, t, df_, ["l_orderkey"], num_buckets=8, path=path
        ):
            continue
        # bucketed data is staged under a pid-suffixed dir (throwaway
        # table name carries the bucket spec during the write), renamed,
        # then re-attached at the FINAL location — racing first builds
        # must not interleave bucket files
        tmp_t = f"{t}_build_{os.getpid()}"
        with _staged_publish(path, marker="_SUCCESS") as build:
            write_bucketed(
                df_, tmp_t, ["l_orderkey"], num_buckets=8, path=build
            )
            spark.sql(f"DROP TABLE IF EXISTS {tmp_t}")
        if not register_bucketed(
            spark, t, df_, ["l_orderkey"], num_buckets=8, path=path
        ):
            raise RuntimeError(f"bucketed table {t} failed to publish")
    joined = colocated_join(spark, li_t, od_t, on=["l_orderkey"], merge=True)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    if "SortMergeJoin" not in plan or any(
        s in plan for s in ("Exchange hashpartitioning", "ShuffleExchange")
    ):
        raise RuntimeError(
            "co-bucketed join did not plan as a zero-shuffle SortMergeJoin"
        )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q87_bucket_ranged_read",
    """SELECT CAST(count(*) AS BIGINT) AS n,
              min(doc_id) AS min_id,
              max(doc_id) AS max_id,
              CAST(sum(n_chars) AS BIGINT) AS sum_chars
       FROM documents""",
)
def q87(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 object-store read path (`storage/bucket.go:21-52`,
    `storage/chunked_reader.go:9-44`) over the filesystem backend — the
    backend the reference's own tests use.  ``documents`` is staged into
    a bucket as ONE multi-row-group parquet object (with the wide
    ``text`` column included), then read back through the ranged stack:
    the driver plans row groups from a tail ranged footer read, each
    executor task opens the bucket itself and fetches only its row
    group's (doc_id, n_chars) column-chunk byte ranges through the
    16-way chunked reader.  The gate raises unless planning stayed
    ranged (footer bytes ≪ object size); the oracle aggregates the
    original table — a hash match proves the ranged reassembly is
    lossless."""
    import io as _io

    import pyarrow.parquet as pq

    from tsdb_parquet_spark.sources.bucket import (
        FilesystemBucket,
        ReadTelemetry,
        read_parquet_distributed,
    )

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    work = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")
    root = os.path.join(work, f"bucket_{tag}")
    os.makedirs(root, exist_ok=True)
    bucket = FilesystemBucket(root)
    obj = "documents/part-0.parquet"
    if not bucket.exists(obj):
        table = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
        buf = _io.BytesIO()
        # force ≥8 row groups so the executor fan-out is real
        pq.write_table(
            table, buf, row_group_size=max(1, table.num_rows // 8)
        )
        bucket.upload(obj, buf.getvalue())

    tel = ReadTelemetry()
    docs = read_parquet_distributed(
        spark, bucket, obj, columns=["doc_id", "n_chars"], telemetry=tel
    )
    size = bucket.attributes(obj).size
    # pyarrow prefetches a 64 KiB footer tail, so small sf objects need an
    # absolute floor; at any realistic object size the ratio bound bites
    if not 0 < tel.bytes <= max(size // 4, 1 << 17) or tel.bytes >= size:
        raise RuntimeError(
            f"driver planning read {tel.bytes}B of a {size}B object — "
            "footer read is not ranged"
        )
    return docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
        F.sum("n_chars").alias("sum_chars"),
    )


#: loopback range servers, one per sf tag — daemon threads that live for
#: the process so lazily-evaluated DataFrames can still fetch at collect
_HTTP_BUCKETS: dict[str, tuple[object, object]] = {}


def _http_bucket(spark: SparkSession, sf_dir: str):
    from tsdb_parquet_spark.sources.bucket import HTTPBucket
    from tsdb_parquet_spark.sources.http_range_server import RangeHTTPServer

    tag = os.path.basename(sf_dir.rstrip("/"))
    if tag not in _HTTP_BUCKETS:
        import io as _io

        import pyarrow.parquet as pq

        table = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
        buf = _io.BytesIO()
        pq.write_table(table, buf, row_group_size=max(1, table.num_rows // 8))
        srv = RangeHTTPServer(
            {"documents/part-0.parquet": buf.getvalue()}
        ).start()
        _HTTP_BUCKETS[tag] = (srv, HTTPBucket(srv.base_url))
    return _HTTP_BUCKETS[tag][1]


@query(
    "q94_http_object_store",
    """SELECT lang, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(n_chars) AS BIGINT) AS sum_chars
       FROM documents GROUP BY lang ORDER BY lang""",
)
def q94(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 over REAL HTTP: ``documents`` staged as one multi-row-group
    parquet object behind a loopback RFC 7233 range server, read through
    `HTTPBucket` — the driver's footer planning and every executor
    worker's row-group fetch travel the socket as ``Range: bytes=a-b``
    GETs, the wire shape of the reference's thanos-objstore GCS client
    (`storage/bucket.go:36-44`).  The gate raises unless driver planning
    stayed ranged (bytes ≪ object size); the oracle aggregates the
    source table, so a hash match proves byte-exact reassembly over the
    wire.  Swapping the loopback URL for a bucket endpoint is the
    production path for stores Spark has no connector for."""
    from tsdb_parquet_spark.sources.bucket import (
        ReadTelemetry,
        read_parquet_distributed,
    )

    bucket = _http_bucket(spark, sf_dir)
    obj = "documents/part-0.parquet"
    tel = ReadTelemetry()
    docs = read_parquet_distributed(
        spark, bucket, obj, columns=["lang", "n_chars"], telemetry=tel
    )
    size = bucket.attributes(obj).size
    if not 0 < tel.bytes <= max(size // 4, 1 << 17) or tel.bytes >= size:
        raise RuntimeError(
            f"driver planning read {tel.bytes}B of a {size}B object over "
            "HTTP — footer read is not ranged"
        )
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("lang")
    )


@query(
    "q88_promql_scalar_arithmetic",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
),
b AS (
  SELECT event_type, shard, value,
         {_P_START} + ((ts_ms - {_P_START} + {_P_STEP - 1}) // {_P_STEP})
             * {_P_STEP} AS t
  FROM s WHERE ts_ms > {_P_START - _P_STEP} AND ts_ms <= {_P_END}
),
m AS (
  SELECT t, event_type, shard, avg(value) AS value
  FROM b WHERE t <= {_P_END} GROUP BY t, event_type, shard
)
SELECT t, event_type, shard,
       round(fmod(value, 49.0) + atan2(pi(), 4.0), 4) AS value
FROM m ORDER BY t, event_type, shard""",
)
def q88(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL arithmetic tail: `%` / `^` (right-assoc, tightest) /
    `atan2` at Prometheus precedence, `pi()` as a parse-time scalar, and
    per-step `scalar()` (a broadcast t-keyed join onto the vector,
    labels kept).  `7 ^ 2` folds at parse; `pi() atan2 scalar(vector(4))`
    is a scalar-typed expression joined per step."""
    engine = _promql_samples(spark, sf_dir)
    out = engine.query_range(
        "avg_over_time(app_events[1d]) % 7 ^ 2"
        " + pi() atan2 scalar(vector(4))",
        _P_START,
        _P_END,
        _P_STEP,
    )
    return out.select(
        "t", "event_type", "shard", F.round("value", 4).alias("value")
    ).orderBy("t", "event_type", "shard")


@query(
    "q89_streaming_rollup",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
),
b AS (
  SELECT event_type, shard, value,
         ((ts_ms + {_DAY_MS - 1}) // {_DAY_MS}) * {_DAY_MS} AS t
  FROM s
)
SELECT t, event_type, shard,
       round(sum(value), 2) AS value_sum,
       CAST(count(*) AS DOUBLE) AS value_count,
       round(max(value), 4) AS value_max
FROM b GROUP BY t, event_type, shard
ORDER BY t, event_type, shard""",
)
def q89(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming rollup (`streaming/rollup.py`): events replayed
    AvailableNow through the windowed-agg downsampler — watermarked
    append-mode window(1d) aggregation, each daily bucket emitted
    exactly once into the idempotent sorted-part sink, compacted into a
    standard rollup chunk store.  A far-future sentinel sample advances
    the watermark past every real bucket so the bounded replay flushes
    them all; the streamed store must then equal the SAME daily
    aggregates the batch rollup (q65) checks — proving the online path
    converges to the batch path."""
    import shutil

    from tsdb_parquet_spark.querier import ChunkQuerier
    from tsdb_parquet_spark.streaming.rollup import StreamingRollupIngestor

    cat = _cat(spark, sf_dir)
    tag = os.path.basename(sf_dir.rstrip("/"))
    work = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")
    root = os.path.join(work, f"stream_rollup_v1_{tag}")
    store_root = os.path.join(root, "store")
    compact = os.path.join(store_root, "compact")

    done_marker = os.path.join(root, "_DONE")
    if not os.path.exists(done_marker):
        # build under a pid-suffixed root and publish by rename: two
        # processes racing the first build (e.g. bench + pytest on the
        # same sf) otherwise interleave writes into one staging dir and
        # one of them loses its _temporary dir mid-commit
        final_root = root
        root = f"{root}.build-{os.getpid()}"
        store_root = os.path.join(root, "store")
        shutil.rmtree(root, ignore_errors=True)
        staging = os.path.join(root, "staging")
        os.makedirs(staging)
        samples = cat["events"].select(
            F.lit("app_events").alias("__name__"),
            F.col("event_type"),
            (F.col("user_id") % 8).cast("string").alias("shard"),
            F.expr("ts div 1000000").alias("ts"),
            F.col("value"),
        )
        samples.write.mode("overwrite").parquet(staging)
        max_ts = samples.agg(F.max("ts")).collect()[0][0]
        if max_ts is None:
            shutil.rmtree(root, ignore_errors=True)
            raise RuntimeError(
                "q89: events table is empty — cannot build rollup store"
            )
        flush = spark.createDataFrame(
            [("__flush__", "none", "0", int(max_ts) + 2 * _DAY_MS, 0.0)],
            "`__name__` STRING, event_type STRING, shard STRING,"
            " ts LONG, value DOUBLE",
        )
        flush.coalesce(1).write.mode("append").parquet(staging)
        ing = StreamingRollupIngestor(
            spark,
            store_root,
            _CHUNK_LABELS,
            step_ms=_DAY_MS,
            aggs=("sum", "count", "max"),
        )
        stream = spark.readStream.schema(samples.schema).parquet(staging)
        ing.ingest(stream, watermark="10 seconds")
        finalized = ing.finalize()
        with open(os.path.join(root, "_DONE"), "w") as fh:
            fh.write("ok\n")
        try:
            os.rename(root, final_root)
        except OSError:
            # another process published first; its build is equivalent
            shutil.rmtree(root, ignore_errors=True)
        compact = os.path.join(
            final_root, os.path.relpath(finalized, root)
        )

    rolled = ChunkQuerier.from_parquet(spark, compact).select_samples(
        labels=_CHUNK_LABELS
    )
    wide = (
        rolled.filter(~F.col("__name__").startswith("__flush__"))
        .groupBy(F.col("ts").alias("t"), "event_type", "shard")
        .pivot(
            "__name__",
            ["app_events:sum", "app_events:count", "app_events:max"],
        )
        .agg(F.first("value"))
    )
    return wide.select(
        "t",
        "event_type",
        "shard",
        F.round(F.col("`app_events:sum`"), 2).alias("value_sum"),
        F.col("`app_events:count`").alias("value_count"),
        F.round(F.col("`app_events:max`"), 4).alias("value_max"),
    ).orderBy("t", "event_type", "shard")


# ---------------------------------------------------------------------------
# q93 — exact-substring span stats
# ---------------------------------------------------------------------------


@query(
    "q93_exact_substring_spans",
    D.sql_duplicated_ngram_spans("documents", size=5) + "ORDER BY doc_id",
)
def q93(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication stats (arXiv:2107.06499): per document,
    the count and fraction of its 5-token windows that also occur in
    another document — the repeated-span signal ExactSubstr dedup cuts.
    One explode + one min/max groupBy on the window key (map-side
    partial agg, no count-distinct), then a keyed join back."""
    docs = _cat(spark, sf_dir)["documents"]
    return D.duplicated_ngram_spans(docs, size=5).orderBy("doc_id")


@query(
    "q100_tsdb_stats",
    """WITH s AS (
  SELECT 'app_events' AS mname, event_type,
         CAST(user_id % 8 AS VARCHAR) AS shard
  FROM events
)
SELECT 'label_values:__name__' AS stat,
       CAST(count(DISTINCT mname) AS BIGINT) AS n FROM s
UNION ALL SELECT 'label_values:event_type',
       CAST(count(DISTINCT event_type) AS BIGINT) FROM s
UNION ALL SELECT 'label_values:shard',
       CAST(count(DISTINCT shard) AS BIGINT) FROM s
UNION ALL SELECT 'series',
       CAST(count(DISTINCT (mname, event_type, shard)) AS BIGINT) FROM s
ORDER BY stat""",
)
def q100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TSDB cardinality statistics (the Prometheus /api/v1/status/tsdb
    surface): per-label distinct-value counts and the store-wide series
    count, computed over the REAL chunk store in one melt + one grouped
    distinct (`querier.tsdb_stats`).  The oracle re-derives every count
    from the raw events with the store's label mapping, so the hash
    also re-proves the chunk build preserved label/series cardinality
    end-to-end."""
    from tsdb_parquet_spark.querier import ChunkQuerier

    q = ChunkQuerier.from_parquet(spark, events_chunk_store(spark, sf_dir))
    return q.tsdb_stats().orderBy("stat")


from tsdb_parquet_spark.functions import quality as QA  # noqa: E402


@query(
    "q99_lm_perplexity_score",
    QA.sql_lm_score(
        corpus_pred="doc_id % 10 <> 0", train_pred="doc_id % 10 = 0"
    )
    + " ORDER BY doc_id",
)
def q99(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-perplexity quality scoring (the CCNet recipe, arXiv:1911.00359):
    an add-alpha smoothed word-bigram model trains on every tenth
    document and scores the rest by mean log-likelihood — the canonical
    quality/domain filter an LLM data pipeline runs before mixing.  The
    model tables are vocabulary-bounded so both probability lookups are
    BROADCAST joins and the corpus side never shuffles except the final
    per-doc aggregation; V comes from an in-plan 1-row aggregate, no
    driver collect.  4dp rounding absorbs the accumulation-order ulp
    skew of the float mean."""
    docs = _cat(spark, sf_dir)["documents"].select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 10 == 0)
    rest = docs.filter(F.col("doc_id") % 10 != 0)
    return QA.lm_score(rest, train).orderBy("doc_id")


@query(
    "q98_exact_substring_removal",
    D.sql_remove_duplicated_spans("documents", size=5) + "ORDER BY doc_id",
)
def q98(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span REMOVAL (arXiv:2107.06499): q93 finds the
    repeated 5-token windows, this row actually cuts them — every token
    covered by a window that also occurs in another document is dropped
    and the text rebuilt, all inside one codegen filter over the token
    array (no Python string surgery).  The oracle rebuilds identically
    from raw window strings, so the hash pins the full
    explode -> shared-window -> coverage -> reconstruction chain."""
    docs = _cat(spark, sf_dir)["documents"]
    return D.remove_duplicated_spans(docs, size=5).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q30-q31 — text analysis + scalar/JSON function surface
# ---------------------------------------------------------------------------


@query(
    "q30_text_analysis",
    f"""SELECT doc_id,
       len({TX.SQL_TOKENS.format(col='text')}) AS n_tokens,
       {TX.sql_bpe_token_count('text')} AS n_bpe_tokens,
       {TX.sql_language_id('text')} AS lang_pred,
       {TX.sql_quality_score('text')} AS quality,
       {TX.sql_fingerprint('text')} AS fp
FROM documents ORDER BY doc_id""",
)
def q30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The text-analysis suite in one pass: whitespace + BPE-ish token
    counts, heuristic language ID, composite quality score, 64-bit
    fingerprint — all pure Catalyst expressions (no Python in the scan).
    Tokenization materializes once per row (two-projection shape; the
    analyzers read the array instead of re-splitting per feature).
    ``spread`` widens the single-row-group scan so the analyzers run on
    every core instead of serializing onto the one scan task — a no-op
    at 100 TB where the scan is already thousands of tasks wide."""
    docs = spread(_cat(spark, sf_dir)["documents"])
    t = F.col("text")
    toks = F.col("__toks")
    # three-projection shape: tokens once, then the four stopword-hit
    # counts once (each an interpreted HOF the language CASE would
    # otherwise re-run up to 6x per row), then the analyzers
    hits = {lang: F.col(f"__hit_{lang}") for lang in TX.STOPWORDS}
    return (
        docs.select("doc_id", "text", TX.tokens(t).alias("__toks"))
        .select(
            "doc_id",
            "text",
            "__toks",
            *[
                TX.stopword_hits(t, lang, toks).alias(f"__hit_{lang}")
                for lang in TX.STOPWORDS
            ],
        )
        .select(
            "doc_id",
            TX.token_count(t, toks).alias("n_tokens"),
            TX.bpe_token_count(t).alias("n_bpe_tokens"),
            TX.language_id(t, toks, hits=hits).alias("lang_pred"),
            TX.quality_score(t, toks, stop_hits=hits["en"]).alias(
                "quality"
            ),
            TX.fingerprint(t, toks).alias("fp"),
        )
        .orderBy("doc_id")
    )


@query(
    "q32_broadcast_join",
    """SELECT n.n_name,
              count(*) AS n_orders,
              round(sum(o.o_totalprice), 2) AS revenue
       FROM orders o
       JOIN customer c ON o.o_custkey = c.c_custkey
       JOIN nation n ON c.c_nationkey = n.n_nationkey
       WHERE o.o_orderstatus = 'F'
       GROUP BY n.n_name ORDER BY n.n_name""",
)
def q32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table join (beyond the reference, which is single-table —
    SURVEY §2.3): fact table joins two dimensions.  nation (25 rows) is
    explicitly broadcast; customer is small enough for AQE to broadcast at
    this SF and shuffles at 100 TB — exactly the adaptive behavior wanted."""
    cat = _cat(spark, sf_dir)
    orders = cat["orders"].filter(equals("o_orderstatus", "F"))
    customer = cat["customer"].select("c_custkey", "c_nationkey")
    nation = cat["nation"].select("n_nationkey", "n_name")
    joined = orders.join(
        customer, orders["o_custkey"] == customer["c_custkey"]
    ).join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
    return (
        joined.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("n_name")
    )


@query(
    "q33_semi_anti_join",
    """SELECT
         (SELECT count(*) FROM customer c
          WHERE EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_totalprice > 300000)) AS n_big_customers,
         (SELECT count(*) FROM customer c
          WHERE NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_custkey = c.c_custkey)) AS n_inactive""",
)
def q33(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti joins (set-membership surface the reference lacks):
    customers with a large order, and customers with no orders at all."""
    cat = _cat(spark, sf_dir)
    customer = cat["customer"].select("c_custkey")
    orders = cat["orders"].select("o_custkey", "o_totalprice")
    big = customer.join(
        orders.filter(F.col("o_totalprice") > 300000),
        customer["c_custkey"] == orders["o_custkey"],
        "left_semi",
    )
    inactive = customer.join(
        orders, customer["c_custkey"] == orders["o_custkey"], "left_anti"
    )
    return big.agg(F.count(F.lit(1)).alias("n_big_customers")).crossJoin(
        inactive.agg(F.count(F.lit(1)).alias("n_inactive"))
    )


@query(
    "q35_distinct_counts",
    """SELECT count(DISTINCT l_partkey) AS n_parts,
              count(DISTINCT l_suppkey) AS n_supps,
              count(DISTINCT l_returnflag || '|' || l_linestatus) AS n_combos
       FROM lineitem""",
)
def q35(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-count aggregation (Spark expands multi-distinct-agg
    into a single expand+two-phase plan; the approximate HLL variant is
    covered in tests since sketches are not oracle-comparable)."""
    li = _cat(spark, sf_dir)["lineitem"]
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct(
            F.concat_ws("|", "l_returnflag", "l_linestatus")
        ).alias("n_combos"),
    )


@query(
    "q36_window_functions",
    """SELECT event_id, event_type,
              lag(epoch_ms(ts)) OVER w AS prev_ts,
              row_number() OVER w AS rn,
              round(avg(value) OVER (PARTITION BY event_type ORDER BY ts
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mov_avg
       FROM events
       WINDOW w AS (PARTITION BY event_type ORDER BY ts)
       QUALIFY rn <= 100
       ORDER BY event_type, rn""",
)
def q36(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series window functions (lag / row_number / moving average) —
    the query-time windowing surface the reference lacks (SURVEY §2.3).
    Partitioned by series, so the window shuffles once and never
    single-tasks."""
    from pyspark.sql import Window

    ev = _cat(spark, sf_dir)["events"]
    w = Window.partitionBy("event_type").orderBy("ts")
    frame = w.rowsBetween(-2, 0)
    out = ev.select(
        "event_id",
        "event_type",
        F.lag(F.expr("ts div 1000000")).over(w).alias("prev_ts"),
        F.row_number().over(w).alias("rn"),
        F.round(F.avg("value").over(frame), 4).alias("mov_avg"),
    )
    return out.filter(F.col("rn") <= 100).orderBy("event_type", "rn")


@query(
    "q38_training_chunks",
    PL.sql_training_chunks(
        "(SELECT doc_id, text FROM documents WHERE doc_id < 100) _d"
    )
    + "\nORDER BY doc_id, chunk_id",
)
def q38(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token overlapping training chunks (40 tokens, stride 32):
    tokenize once, JVM explode — zero shuffles, the fan-out runs inside
    the scan stage."""
    from tsdb_parquet_spark.functions.pipeline import training_chunks

    docs = (
        _cat(spark, sf_dir)["documents"]
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 100)
    )
    return training_chunks(docs).orderBy("doc_id", "chunk_id")


@query(
    "q58_pack_sequences",
    PL.sql_pack_sequences("documents", budget_tokens=512, shards=16)
    + "\nORDER BY doc_id",
)
def q58(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing into 512-token training
    sequences, 16-way shard-parallel (`functions/pipeline.py:
    pack_sequences`): deterministic id-order streams per shard, one
    shuffle, never a global single-task window."""
    from tsdb_parquet_spark.functions.pipeline import pack_sequences

    docs = _cat(spark, sf_dir)["documents"].select("doc_id", "text")
    out = pack_sequences(docs, budget_tokens=512, shards=16)
    return out.orderBy("doc_id")


@query(
    "q39_cleaning_pipeline",
    f"""
WITH gated AS (
  SELECT doc_id, text,
         {TX.sql_quality_score('text')} AS q,
         {TX.sql_language_id('text')} AS lang_pred,
         {TX.sql_fingerprint('text')} AS fp,
         len({TX.SQL_TOKENS.format(col='text')}) AS n_tokens
  FROM documents
  WHERE {TX.sql_quality_score('text')} >= 0.5
    AND {TX.sql_language_id('text')} = 'en'
),
kept AS (
  SELECT * FROM gated
  WHERE doc_id IN (SELECT min(doc_id) FROM gated GROUP BY fp)
)
SELECT count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       floor(avg(q) * 10000.0 + 0.5) / 10000.0 AS avg_quality
FROM kept""",
)
def q39(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed C4-style cleaning pipeline: quality gate -> language
    gate -> exact dedup, then corpus statistics.  Catalyst fuses the gates
    into the scan; the dedup groupBy is the only shuffle."""
    from tsdb_parquet_spark.functions.pipeline import clean_corpus

    docs = _cat(spark, sf_dir)["documents"].select("doc_id", "text")
    kept = clean_corpus(docs, min_quality=0.5, languages=("en",))
    t = F.col("text")
    toks = F.col("__toks")
    stats = (
        kept.select(
            "doc_id",
            t,
            TX.tokens(t).alias("__toks"),
        )
        .select(
            "*", TX.stopword_hits(t, "en", toks).alias("__hit_en")
        )
        .select(
            TX.token_count(t, toks).alias("n_tokens"),
            TX.quality_score(
                t, toks, stop_hits=F.col("__hit_en")
            ).alias("q"),
        )
    )
    return stats.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.floor(F.avg("q") * 10000.0 + 0.5) / 10000.0).alias("avg_quality"),
    )


@query(
    "q40_rollup",
    """SELECT coalesce(l_returnflag, 'ALL') AS flag,
              coalesce(l_linestatus, 'ALL') AS status,
              count(*) AS cnt,
              round(sum(l_quantity), 2) AS sum_qty
       FROM lineitem
       GROUP BY ROLLUP (l_returnflag, l_linestatus)
       ORDER BY flag, status""",
)
def q40(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets / ROLLUP (absent from the reference, SURVEY §2.3):
    hierarchical subtotals in one pass — Spark expands the grouping sets
    map-side, still a single shuffle."""
    li = _cat(spark, sf_dir)["lineitem"]
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
            "cnt",
            "sum_qty",
        )
        .orderBy("flag", "status")
    )


@query(
    "q41_set_operations",
    """SELECT
         (SELECT count(*) FROM
           (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
            INTERSECT
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')) AS n_both,
         (SELECT count(*) FROM
           (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
            EXCEPT
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')) AS n_only_f,
         (SELECT count(*) FROM
           (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
            UNION
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')) AS n_any""",
)
def q41(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (absent from the reference — only AND-conjunction
    exists there, SURVEY §2.3): INTERSECT / EXCEPT / UNION over customer
    key sets."""
    orders = _cat(spark, sf_dir)["orders"]
    f_keys = orders.filter(equals("o_orderstatus", "F")).select("o_custkey")
    o_keys = orders.filter(equals("o_orderstatus", "O")).select("o_custkey")
    both = f_keys.intersect(o_keys).agg(F.count(F.lit(1)).alias("n_both"))
    only_f = f_keys.subtract(o_keys).agg(F.count(F.lit(1)).alias("n_only_f"))
    any_ = f_keys.union(o_keys).distinct().agg(F.count(F.lit(1)).alias("n_any"))
    return both.crossJoin(only_f).crossJoin(any_)


@query(
    "q31_json_props",
    """SELECT event_type,
              CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                   AS BIGINT) AS sum_k,
              count(*) AS n
       FROM events GROUP BY event_type ORDER BY event_type""",
)
def q31(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON props column: extraction + typed aggregation
    (scalar-function surface the reference lacks entirely, SURVEY §2.3).
    ``spread`` parallelizes the per-row JSON parse off the single scan
    task (partial aggregation runs above the round-robin exchange)."""
    ev = spread(_cat(spark, sf_dir)["events"])
    return (
        ev.groupBy("event_type")
        .agg(
            F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


@query(
    "q66_promql_set_ops",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms
  FROM events
),
b AS (
  SELECT event_type, shard,
         {_P_START} + ((ts_ms - {_P_START} + {_P_STEP - 1}) // {_P_STEP})
             * {_P_STEP} AS t
  FROM s WHERE ts_ms > {_P_START - _P_STEP} AND ts_ms <= {_P_END}
),
per_shard AS (
  SELECT t, event_type, shard, CAST(count(*) AS DOUBLE) AS v
  FROM b WHERE t <= {_P_END} GROUP BY t, event_type, shard
),
per_type AS (
  SELECT t, event_type, CAST(count(*) AS DOUBLE) AS tot
  FROM b WHERE t <= {_P_END} GROUP BY t, event_type
),
hot AS (SELECT t, event_type FROM per_type WHERE tot > 70)
SELECT t, event_type, shard, value FROM (
  SELECT p.t, p.event_type, p.shard, p.v * 10 AS value
  FROM per_shard p
  WHERE EXISTS (SELECT 1 FROM hot h
                WHERE h.t = p.t AND h.event_type = p.event_type)
  UNION ALL
  SELECT p.t, p.event_type, p.shard, p.v AS value
  FROM per_shard p
  WHERE NOT EXISTS (SELECT 1 FROM hot h
                    WHERE h.t = p.t AND h.event_type = p.event_type)
  UNION ALL
  SELECT t, event_type, '' AS shard, tot AS value FROM per_type
) ORDER BY t, event_type, shard""",
)
def q66(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL set operators `and` / `unless` / `or` (semi/anti equi-joins
    on (t, match labels), `or` = union + anti-dedup on the full label
    set): shards of hot event types (daily count > 70) scaled x10, quiet
    shards unscaled, plus the per-type totals appearing with shard=""
    (absent-label convention, reference `schema/chunk.go:109-112`).
    Integer-valued counts keep every value exact across engines."""
    engine = _promql_samples(spark, sf_dir)
    return engine.query_range(
        "(sum by (event_type, shard) (count_over_time(app_events[1d]))"
        " and on(event_type)"
        " sum by (event_type) (count_over_time(app_events[1d])) > 70) * 10"
        " or (sum by (event_type, shard) (count_over_time(app_events[1d]))"
        " unless on(event_type)"
        " sum by (event_type) (count_over_time(app_events[1d])) > 70)"
        " or sum by (event_type) (count_over_time(app_events[1d]))",
        _P_START,
        _P_END,
        _P_STEP,
    )


@query(
    "q67_promql_quantile_agg",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms
  FROM events
),
b AS (
  SELECT event_type, shard,
         {_P_START} + ((ts_ms - {_P_START} + {_P_STEP - 1}) // {_P_STEP})
             * {_P_STEP} AS t
  FROM s WHERE ts_ms > {_P_START - _P_STEP} AND ts_ms <= {_P_END}
),
per_shard AS (
  SELECT t, event_type, shard, CAST(count(*) AS DOUBLE) AS v
  FROM b WHERE t <= {_P_END} GROUP BY t, event_type, shard
)
SELECT t, event_type, round(quantile_cont(v, 0.9), 4) AS value
FROM per_shard GROUP BY t, event_type ORDER BY t, event_type""",
)
def q67(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL `quantile(0.9, v) by (event_type)` aggregation — linear
    interpolation between order statistics at rank phi*(n-1), identical
    across Spark's exact `percentile` and DuckDB's `quantile_cont`.
    Inputs are integer-valued counts, so the only float op is the final
    interpolation, rounded at 4dp on both sides."""
    engine = _promql_samples(spark, sf_dir)
    out = engine.query_range(
        "quantile by (event_type)"
        " (0.9, sum by (event_type, shard) (count_over_time(app_events[1d])))",
        _P_START,
        _P_END,
        _P_STEP,
    )
    return out.select("t", "event_type", F.round("value", 4).alias("value"))


@query(
    "q68_promql_predict_linear",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
),
b AS (
  SELECT event_type, shard, value,
         {_P_START} + ((ts_ms - {_P_START} + {_P_STEP - 1}) // {_P_STEP})
             * {_P_STEP} AS t,
         ts_ms
  FROM s WHERE ts_ms > {_P_START - _P_STEP} AND ts_ms <= {_P_END}
),
reg AS (
  SELECT t, event_type, shard,
         regr_slope(value, (ts_ms - t) / 1000.0) AS slope,
         regr_intercept(value, (ts_ms - t) / 1000.0) AS icept
  FROM b WHERE t <= {_P_END} GROUP BY t, event_type, shard
)
SELECT t, event_type, shard,
       round(icept + slope * 3600.0, 4) AS value
FROM reg WHERE slope IS NOT NULL
ORDER BY t, event_type, shard""",
)
def q68(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL `predict_linear(app_events[1d], 3600)` — least-squares line
    over each window's (seconds-relative-to-step, value) points, read off
    one hour past the step time (Prometheus linearRegression with the
    intercept at eval time).  Both engines compute regr_slope /
    regr_intercept with stable one-pass co-moments; 4dp rounding absorbs
    the accumulation-order ulp skew."""
    engine = _promql_samples(spark, sf_dir)
    out = engine.query_range(
        "predict_linear(app_events[1d], 3600)",
        _P_START,
        _P_END,
        _P_STEP,
    )
    return out.select(
        "t", "event_type", "shard", F.round("value", 4).alias("value")
    )


# ---------------------------------------------------------------------------
# Q69-Q72 — corpus-hygiene pipeline: decontamination, repetition filters,
# PII redaction, deterministic training order
# ---------------------------------------------------------------------------

from tsdb_parquet_spark.functions import decontaminate as DC  # noqa: E402
from tsdb_parquet_spark.functions import ordering as ORD  # noqa: E402
from tsdb_parquet_spark.functions import pii as PII  # noqa: E402
from tsdb_parquet_spark.functions import quality as QA  # noqa: E402


@query(
    "q69_decontaminate",
    DC.sql_contamination_report(
        corpus_pred="doc_id % 10 <> 0",
        benchmark_pred="doc_id % 10 = 0",
        ngram=4,
    )
    + " ORDER BY doc_id",
)
def q69(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every tenth document plays the held-out
    benchmark; report training docs sharing >= 1 distinct word 4-gram with
    it.  The benchmark n-gram table is broadcast — the corpus side never
    shuffles except the final per-doc aggregation."""
    docs = _cat(spark, sf_dir)["documents"].select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return DC.contamination_report(corpus, bench, ngram=4).orderBy("doc_id")


@query(
    "q70_repetition_stats",
    QA.sql_repetition_stats(ngram=2) + " ORDER BY doc_id",
)
def q70(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (duplicate-2-gram fraction, top
    2-gram share) per document — explode + two map-side-combining
    aggregations, no Python in the plan.  A zero-shuffle sorted-array
    variant exists for shuffle-IO-bound regimes
    (`quality.repetition_stats(zero_shuffle=True)`, parity-tested)."""
    docs = _cat(spark, sf_dir)["documents"].select("doc_id", "text")
    return QA.repetition_stats(docs, ngram=2).orderBy("doc_id")


_PII_INJECT_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 7 = 0 THEN
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com or 415-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' ssn 123-45-6789 ip 10.0.0.'
              || CAST(doc_id % 255 AS VARCHAR)
       ELSE text END AS text
FROM documents
"""


def _pii_injected_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically plant one email/phone/SSN/IP in every 7th doc —
    the synthetic corpus is PII-free, so both engines build the same
    fixture inline (same convention as `_near_dup_docs`)."""
    docs = _cat(spark, sf_dir)["documents"].select("doc_id", "text")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or 415-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ssn 123-45-6789 ip 10.0.0."),
        (F.col("doc_id") % 255).cast("string"),
    )
    return docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, injected)
        .otherwise(F.col("text"))
        .alias("text"),
    )


@query(
    "q71_pii_redact",
    f"""
WITH aug AS ({_PII_INJECT_SQL})
SELECT doc_id,
       CAST({PII.sql_pii_counts('text')['email']} AS BIGINT) AS n_email,
       CAST({PII.sql_pii_counts('text')['ssn']} AS BIGINT) AS n_ssn,
       CAST({PII.sql_pii_counts('text')['phone']} AS BIGINT) AS n_phone,
       CAST({PII.sql_pii_counts('text')['ipv4']} AS BIGINT) AS n_ipv4,
       md5({PII.sql_redact_pii('text')}) AS redacted_md5
FROM aug ORDER BY doc_id""",
)
def q71(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: count matches per kind on the original text, then emit
    the md5 of the fully redacted text — regex-only Catalyst expressions,
    fused into the scan (RE2/Java common-subset patterns so the DuckDB
    oracle redacts byte-identically).  ``spread`` runs the five regex
    passes on every core instead of the one scan task."""
    aug = spread(_pii_injected_docs(spark, sf_dir))
    counts = PII.pii_counts(F.col("text"))
    return aug.select(
        "doc_id",
        counts["email"].cast("long").alias("n_email"),
        counts["ssn"].cast("long").alias("n_ssn"),
        counts["phone"].cast("long").alias("n_phone"),
        counts["ipv4"].cast("long").alias("n_ipv4"),
        F.md5(PII.redact_pii(F.col("text"))).alias("redacted_md5"),
    ).orderBy("doc_id")


@query(
    "q72_global_shuffle",
    f"""
SELECT CAST(row_number() OVER (
         ORDER BY {ORD.sql_shuffle_draw('doc_id', 'r3')}) AS BIGINT) - 1
         AS pos,
       doc_id
FROM documents ORDER BY pos""",
)
def q72(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle: seeded md5 draw defines a
    reproducible training permutation; dense positions assigned with the
    partition-offset trick (`chunks.dense_series_ids`), NOT a single-task
    global row_number window."""
    docs = _cat(spark, sf_dir)["documents"].select("doc_id")
    return ORD.with_global_positions(docs, "doc_id", seed="r3").orderBy(
        "pos"
    )


@query(
    "q73_promql_time_functions",
    f"""
WITH s AS (SELECT event_type, epoch_ms(ts) AS ts_ms FROM events),
b AS (
  SELECT event_type,
         {_P_START} + ((ts_ms - {_P_START} + {_P_STEP - 1}) // {_P_STEP})
             * {_P_STEP} AS t
  FROM s WHERE ts_ms > {_P_START - _P_STEP} AND ts_ms <= {_P_END}
),
grid AS (
  SELECT t, event_type FROM b WHERE t <= {_P_END} GROUP BY t, event_type
)
SELECT t, event_type,
       CAST((((t // 1000) // 86400 + 4) % 7) * 100
            + date_part('day', make_timestamp(t * 1000)) AS DOUBLE) AS value
FROM grid ORDER BY t, event_type""",
)
def q73(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL calendar functions: day_of_week (0=Sunday) and day_of_month
    of each step's own timestamp, combined value-wise — two TIMEFN nodes
    over the same vector joined one-to-one on (t, event_type).  The oracle
    derives day-of-week arithmetically (epoch day 0 was a Thursday) and
    day-of-month from a tz-naive make_timestamp, both matching Spark's
    UTC-session calendar functions."""
    engine = _promql_samples(spark, sf_dir)
    base = "sum by (event_type) (count_over_time(app_events[1d]))"
    return engine.query_range(
        f"day_of_week(timestamp({base})) * 100"
        f" + day_of_month(timestamp({base}))",
        _P_START,
        _P_END,
        _P_STEP,
    )


_P_WEEK = 7 * _DAY_MS


@query(
    "q74_promql_subquery",
    f"""
WITH s AS (SELECT event_type, epoch_ms(ts) AS ts_ms FROM events),
b AS (
  SELECT event_type,
         {_P_START} + ((ts_ms - {_P_START} + {_P_STEP - 1}) // {_P_STEP})
             * {_P_STEP} AS t
  FROM s
  WHERE ts_ms > {_P_START - _P_WEEK} AND ts_ms <= {_P_END}
),
sub AS (
  SELECT t, event_type, CAST(count(*) AS DOUBLE) AS v
  FROM b WHERE t <= {_P_END} GROUP BY t, event_type
),
steps AS (SELECT unnest(range({_P_START}, {_P_END + 1}, {_P_STEP})) AS t),
et AS (SELECT DISTINCT event_type FROM sub)
SELECT st.t, et.event_type, max(sub.v) AS value
FROM steps st
CROSS JOIN et
JOIN sub ON sub.event_type = et.event_type
        AND sub.t > st.t - {_P_WEEK} AND sub.t <= st.t
GROUP BY st.t, et.event_type
ORDER BY st.t, et.event_type""",
)
def q74(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL subquery: the busiest day in the trailing week,
    ``max_over_time(<per-day count>[1w:1d])``.  The inner expression
    evaluates once on the absolute-aligned daily sub-grid (tumbling fast
    path), and the outer max re-uses the arithmetic step fan-out — no
    (steps x sub-steps) join anywhere in the plan.  The oracle's range
    join is correctness-only (DuckDB side)."""
    engine = _promql_samples(spark, sf_dir)
    return engine.query_range(
        "max_over_time(sum by (event_type)"
        " (count_over_time(app_events[1d]))[1w:1d])",
        _P_START,
        _P_END,
        _P_STEP,
    )


_HW_SF, _HW_TF = 0.4, 0.3


@query(
    "q75_promql_holt_winters",
    f"""
WITH RECURSIVE s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
),
b AS (
  SELECT event_type, shard, ts_ms, value,
         {_P_START} + ((ts_ms - {_P_START} + {_P_STEP - 1}) // {_P_STEP})
             * {_P_STEP} AS t
  FROM s WHERE ts_ms > {_P_START - _P_STEP} AND ts_ms <= {_P_END}
),
base AS (
  SELECT t, event_type, shard, value,
         row_number() OVER (PARTITION BY t, event_type, shard
                            ORDER BY ts_ms, value) AS i,
         count(*) OVER (PARTITION BY t, event_type, shard) AS n
  FROM b WHERE t <= {_P_END}
),
rec AS (
  SELECT b1.t, b1.event_type, b1.shard, b1.n, 2 AS i,
         b1.value AS s0,
         {_HW_SF} * b2.value
           + (1.0 - {_HW_SF}) * (b1.value + (b2.value - b1.value)) AS s1,
         b2.value - b1.value AS b
  FROM base b1 JOIN base b2 ON b1.t = b2.t AND b1.event_type = b2.event_type
       AND b1.shard = b2.shard AND b1.i = 1 AND b2.i = 2
  UNION ALL
  SELECT r.t, r.event_type, r.shard, r.n, r.i + 1,
         r.s1,
         {_HW_SF} * nx.value + (1.0 - {_HW_SF})
           * (r.s1 + ({_HW_TF} * (r.s1 - r.s0) + (1.0 - {_HW_TF}) * r.b)),
         {_HW_TF} * (r.s1 - r.s0) + (1.0 - {_HW_TF}) * r.b
  FROM rec r JOIN base nx ON nx.t = r.t AND nx.event_type = r.event_type
       AND nx.shard = r.shard AND nx.i = r.i + 1
)
SELECT t, event_type, shard, round(s1, 4) AS value
FROM rec WHERE i = n
ORDER BY t, event_type, shard""",
)
def q75(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL holt_winters (double exponential smoothing) per daily
    window.  Spark folds the s/b recurrence with a JVM `aggregate` HOF in
    one pass per window; the oracle must use a recursive CTE because
    DuckDB 1.0's list_reduce aliases dependent struct fields across folds
    (verified empirically — s0 := acc.s1 reads the NEW s1 from fold 2 on).
    Identical float-op ordering on both sides; 4dp rounding on top."""
    engine = _promql_samples(spark, sf_dir)
    out = engine.query_range(
        f"holt_winters(app_events[1d], {_HW_SF}, {_HW_TF})",
        _P_START,
        _P_END,
        _P_STEP,
    )
    return out.select(
        "t", "event_type", "shard", F.round("value", 4).alias("value")
    )


_Q80_BOILER = "subscribe to our newsletter for updates"


def _q80_oracle() -> str:
    from tsdb_parquet_spark.functions import quality as _QA

    synth = (
        "WITH __synth AS (\n"
        "  SELECT doc_id,\n"
        f"         CASE WHEN doc_id % 3 = 0\n"
        f"              THEN '{_Q80_BOILER}' || chr(10) || text\n"
        "              ELSE text END AS text\n"
        "  FROM documents)"
    )
    body = _QA.sql_remove_repeated_lines(table="__synth", min_docs=10)
    return synth + body.replace("\nWITH ", ",\n", 1) + "\nORDER BY doc_id"


@query("q80_remove_boilerplate_lines", _q80_oracle())
def q80(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style line-level boilerplate removal: a synthetic
    "subscribe" header injected into every third document appears in
    far more than ``min_docs`` distinct docs and must be stripped, while
    each document's own (unique) text line survives with order intact.
    Plan: posexplode -> map-side-combining line count -> broadcast
    anti-join -> per-document reassembly (see
    `functions/quality.py:remove_repeated_lines`)."""
    from tsdb_parquet_spark.functions.quality import remove_repeated_lines

    docs = _cat(spark, sf_dir)["documents"].select("doc_id", "text")
    synth = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(_Q80_BOILER + "\n"), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return remove_repeated_lines(synth, min_docs=10).orderBy("doc_id")


def _streamed_sessions_oracle() -> str:
    from tsdb_parquet_spark.streaming.sessions import sql_sessionize

    inner = sql_sessionize(
        ["user_id"], table="events", ts_expr="epoch_ms(ts)",
        value_expr="value", gap_ms=_SESSION_GAP_MS,
    )
    return f"""
WITH sess AS ({inner})
SELECT user_id, session_start, session_end, n_events,
       round(sum_value, 2) AS sum_value
FROM sess ORDER BY user_id, session_start"""


@query("q76_streaming_sessionize", _streamed_sessions_oracle())
def q76(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events replayed AvailableNow through the stateful
    `StreamingSessionizer` (applyInPandasWithState, EventTimeTimeout):
    in-stream gaps close mid-stream sessions and the final watermark
    advance fires the event-time timeouts.  A far-future flush event on
    a sentinel key pushes the watermark past every real gap deadline, so
    the closed-sessions stream must equal the batch `sessionize` result
    EXACTLY — the oracle is the same SQL twin q46 checks against,
    promoting the streaming operator from tests-only to a driver hash
    signal."""
    import shutil

    from tsdb_parquet_spark.streaming.sessions import StreamingSessionizer

    cat = _cat(spark, sf_dir)
    tag = os.path.basename(sf_dir.rstrip("/"))
    work = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")
    root = os.path.join(work, f"stream_sessions_v2_{tag}")
    out_dir = os.path.join(root, "sessions")

    # the streaming file sink writes _spark_metadata, not _SUCCESS — use
    # an explicit marker touched only after the replay drains
    if not os.path.exists(os.path.join(root, "_DONE")):
        with _staged_publish(root, marker="_DONE") as build:
            staging = os.path.join(build, "staging")
            ckpt = os.path.join(build, "ckpt")
            os.makedirs(staging)
            events = cat["events"].select(
                F.col("user_id").cast("string").alias("user_id"),
                F.expr("ts div 1000000").alias("ts"),
                "value",
            )
            events.write.mode("overwrite").parquet(staging)
            max_ts = events.agg(F.max("ts")).collect()[0][0]
            if max_ts is None:
                raise RuntimeError(
                    "q76: events table is empty — cannot build session store"
                )
            delay_ms = 10_000
            flush = spark.createDataFrame(
                [("__flush__",
                  int(max_ts) + _SESSION_GAP_MS + 2 * delay_ms, 0.0)],
                "user_id STRING, ts LONG, value DOUBLE",
            )
            flush.coalesce(1).write.mode("append").parquet(staging)
            stream = spark.readStream.schema(events.schema).parquet(staging)
            closed = StreamingSessionizer(gap_ms=_SESSION_GAP_MS).apply(
                stream,
                key_col="user_id",
                watermark_delay=f"{delay_ms // 1000} seconds",
            )
            handle = (
                closed.writeStream.format("parquet")
                .option("path", os.path.join(build, "out"))
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            if not handle.awaitTermination(600):
                raise RuntimeError(
                    "AvailableNow session replay did not drain"
                )
            # the streaming file sink's _spark_metadata commit log records
            # ABSOLUTE paths, which the staged-rename publish invalidates
            # (the r11 q76 tear) — re-materialize the committed output as
            # plain parquet INSIDE the build dir while the log's paths are
            # still live, and drop the sink dir so no stale log survives
            # the rename
            spark.read.parquet(os.path.join(build, "out")).write.mode(
                "overwrite"
            ).parquet(os.path.join(build, "sessions"))
            shutil.rmtree(os.path.join(build, "out"))
            shutil.rmtree(ckpt)
            shutil.rmtree(staging)
            with open(os.path.join(build, "_DONE"), "w") as fh:
                fh.write("ok\n")

    return (
        spark.read.parquet(out_dir)
        .filter(F.col("key") != "__flush__")
        .select(
            F.col("key").cast("long").alias("user_id"),
            "session_start",
            "session_end",
            "n_events",
            F.round("sum_value", 2).alias("sum_value"),
        )
        .orderBy("user_id", "session_start")
    )


@query(
    "q77_rollup_routing",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
),
b AS (
  SELECT event_type, shard, value,
         {_P_START} + ((ts_ms - {_P_START} + {_P_STEP - 1}) // {_P_STEP})
             * {_P_STEP} AS t
  FROM s WHERE ts_ms > {_P_START - _P_STEP} AND ts_ms <= {_P_END}
),
per_series AS (
  SELECT t, event_type, shard, sum(value) / count(*) AS avg_v
  FROM b WHERE t <= {_P_END} GROUP BY t, event_type, shard
)
SELECT t, event_type, round(sum(avg_v), 4) AS value
FROM per_series GROUP BY t, event_type
ORDER BY t, event_type""",
)
def q77(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-time rollup routing (`plans/routing.py`): the engine reads
    the raw AND daily-rollup stores as one surface, rewrites the aligned
    `avg_over_time(app_events[1d])` into `sum_over_time(app_events:sum)
    / sum_over_time(app_events:count)` against the recording-rule
    series, and the `__name__` pushdown prunes the raw store's chunks —
    while the oracle recomputes the same averages from raw events.  The
    in-query assert is the plan check: zero rewrites would mean the
    routed path silently fell back to raw."""
    from tsdb_parquet_spark.plans.routing import routed_engine

    raw = events_chunk_store(spark, sf_dir)
    roll = events_rollup_store(spark, sf_dir)
    engine = routed_engine(spark, raw, roll, _CHUNK_LABELS, _DAY_MS)
    out = engine.query_range(
        "sum by (event_type) (avg_over_time(app_events[1d]))",
        _P_START,
        _P_END,
        _P_STEP,
    )
    if engine.last_rewrites != 1:
        # not an assert: must survive `python -O` — a silent raw fallback
        # would still hash-match, defeating the whole plan check
        raise RuntimeError("rollup routing did not engage")
    return out.select(
        "t", "event_type", F.round("value", 4).alias("value")
    )


@query(
    "q82_rollup_subquery_routing",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
),
sub AS (
  SELECT event_type, shard,
         ((ts_ms + {_DAY_MS - 1}) // {_DAY_MS}) * {_DAY_MS} AS u,
         sum(value) AS v
  FROM s
  WHERE ts_ms > {_P_START - 7 * _DAY_MS} AND ts_ms <= {_P_END}
  GROUP BY event_type, shard, u
),
steps AS (
  SELECT unnest(range({_P_START}, {_P_END + 1}, {_P_STEP})) AS t
),
m AS (
  SELECT st.t, sub.event_type, sub.shard, max(sub.v) AS mv
  FROM steps st
  JOIN sub ON sub.u > st.t - {7 * _DAY_MS} AND sub.u <= st.t
  GROUP BY st.t, sub.event_type, sub.shard
)
SELECT t, event_type, round(sum(mv), 4) AS value
FROM m GROUP BY t, event_type ORDER BY t, event_type""",
)
def q82(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subquery INTERIOR served from the rollup store: in
    `max_over_time(sum_over_time(app_events[1d])[7d:1d])` the interior
    evaluates on its own absolute-aligned daily sub-grid, which
    `rewrite_for_rollup` now re-derives per scope — the interior becomes
    `sum_over_time(app_events:sum[1d])` (one pre-aggregated rollup point
    per day instead of a raw-chunk decode), while the outer max/sum run
    unchanged.  The oracle recomputes peak daily volume per series from
    raw events; the in-query RuntimeError is the plan gate."""
    from tsdb_parquet_spark.plans.routing import routed_engine

    raw = events_chunk_store(spark, sf_dir)
    roll = events_rollup_store(spark, sf_dir)
    engine = routed_engine(spark, raw, roll, _CHUNK_LABELS, _DAY_MS)
    out = engine.query_range(
        "sum by (event_type)"
        " (max_over_time(sum_over_time(app_events[1d])[7d:1d]))",
        _P_START,
        _P_END,
        _P_STEP,
    )
    if engine.last_rewrites != 1:
        raise RuntimeError("subquery-interior rollup routing did not engage")
    return out.select(
        "t", "event_type", F.round("value", 4).alias("value")
    )


# maintenance-lifecycle constants: retention horizon cuts Jan 1-10 (days
# 19723-19732) from the 2024-01-01..01-30 events range
_MAINT_NOW_MS = 1706659200000  # 2024-01-31T00:00Z, day 19753
_MAINT_KEEP_DAYS = 20  # cutoff day 19733 = 2024-01-11


@query(
    "q83_store_maintenance",
    _CHUNK_ORACLE_CTE
    + f"""
SELECT CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(DISTINCT event_type || '|' || shard) AS BIGINT)
           AS n_series,
       min(mint) AS min_ts,
       max(maxt) AS max_ts,
       (SELECT CAST(count(DISTINCT bucket) AS BIGINT) FROM ch
        WHERE bucket < {_MAINT_NOW_MS // _DAY_MS - _MAINT_KEEP_DAYS})
           AS n_removed
FROM ch
WHERE bucket >= {_MAINT_NOW_MS // _DAY_MS - _MAINT_KEEP_DAYS}""",
)
def q83(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full store-maintenance lifecycle (`sources/maintenance.py`): a
    day-partitioned chunk store written as 3 sorted parts ->
    `maybe_compact` merges them (part count over threshold, consumed
    parts deleted) -> `vacuum_store` drops whole `__day=` partitions
    past the retention horizon (O(1) directory deletes — the reason the
    store is day-partitioned).  The surviving chunks' count/series/
    time-bounds must equal the oracle's recomputation from raw events
    restricted to the horizon, and the partition-delete count must match
    the data's day census — compaction and retention were lossless and
    exact."""
    import shutil

    from tsdb_parquet_spark.chunks import samples_to_chunks
    from tsdb_parquet_spark.schema import MIN_T, sort_columns
    from tsdb_parquet_spark.sources.maintenance import (
        maybe_compact,
        vacuum_store,
    )
    from tsdb_parquet_spark.sources.writer import (
        SortedParquetWriter,
        WriterOptions,
    )

    tag = os.path.basename(sf_dir.rstrip("/"))
    work = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")
    # the lifecycle MUTATES its store (compaction deletes parts, retention
    # deletes partitions) — always rebuild from scratch, never cache.  The
    # root is pid-scoped so concurrent runs (bench + pytest) never mutate
    # the same store; stale roots from dead pids are swept here.
    import glob as _glob

    for stale in _glob.glob(os.path.join(work, f"maint_store_{tag}_pid*")):
        pid = stale.rsplit("pid", 1)[-1]
        if pid != str(os.getpid()) and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(stale, ignore_errors=True)
    root = os.path.join(work, f"maint_store_{tag}_pid{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)

    ev = _cat(spark, sf_dir)["events"]
    samples = ev.select(
        F.lit("app_events").alias("__name__"),
        F.col("event_type"),
        (F.col("user_id") % 8).cast("string").alias("shard"),
        F.expr("ts div 1000000").alias("ts"),
        F.col("value"),
    )
    chunks = (
        samples_to_chunks(samples, _CHUNK_LABELS, chunk_span_ms=_DAY_MS)
        .withColumn("__day", F.expr(f"{MIN_T} div {_DAY_MS}"))
        # three part writes slice the SAME chunk table: assemble it once
        .persist()
    )
    opts = WriterOptions(
        sort_columns=sort_columns(_CHUNK_LABELS),
        max_files=4,
        partition_by=["__day"],
    )
    writer = SortedParquetWriter(spark, root, opts)
    for k in range(3):
        writer.write(chunks.filter(F.col("shard").cast("long") % 3 == k))
    chunks.unpersist()
    compact_dir = maybe_compact(writer, max_parts=2)
    if compact_dir is None:
        raise RuntimeError("maybe_compact did not trigger at 3 > 2 parts")
    if writer.part_dirs:
        raise RuntimeError("compacted parts were not cleaned up")
    # snapshot-publication gates: the compaction must have landed in a
    # fresh versioned dir behind an atomic alias swap, with the manifest
    # pinning exactly that version (sources/manifest.py)
    from tsdb_parquet_spark.sources.manifest import current_snapshot

    snap = current_snapshot(root)
    if snap is None or list(snap.paths) != [os.path.basename(compact_dir)]:
        raise RuntimeError("manifest does not pin the compacted version")
    if not os.path.islink(os.path.join(root, "compact")):
        raise RuntimeError("compact alias is not an atomic-swap symlink")

    result = vacuum_store(
        spark, compact_dir, now_ms=_MAINT_NOW_MS, keep_days=_MAINT_KEEP_DAYS
    )
    back = spark.read.parquet(compact_dir)
    return back.agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("event_type", "shard").alias("n_series"),
        F.min(MIN_T).alias("min_ts"),
        F.max("__maxt").alias("max_ts"),
        F.lit(len(result["removed_partitions"]))
        .cast("long")
        .alias("n_removed"),
    )


@query(
    "q78_promql_instant_absent",
    f"""
WITH s AS (
  SELECT epoch_ms(ts) AS ts_ms FROM events
  WHERE event_type = 'error' AND user_id % 8 = 7
    AND (epoch_ms(ts) // {_DAY_MS}) % 5 = 0
),
steps AS (
  SELECT {_P_START} + k * {_P_STEP} AS t
  FROM range(0, {(_P_END - _P_START) // _P_STEP + 1}) r(k)
),
present AS (
  SELECT DISTINCT st.t
  FROM steps st JOIN s
    ON s.ts_ms > st.t - {_P_LOOKBACK} AND s.ts_ms <= st.t
)
SELECT st.t, 'error' AS event_type, '7' AS shard,
       CAST(1.0 AS DOUBLE) AS value
FROM steps st LEFT JOIN present p ON p.t = st.t
WHERE p.t IS NULL ORDER BY st.t""",
)
def q78(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instant `absent(app_events_sparse{...})` — presence judged over
    the lookback window like any instant selector, the step axis
    anti-joined against the distinct present steps (both sides
    O(steps)); labels synthesized from the equality matchers.  Every
    fifth day of samples only, so absences exist at every scale."""
    from tsdb_parquet_spark.plans.promql import PromQLEngine

    ev = _cat(spark, sf_dir)["events"]
    samples = ev.select(
        F.lit("app_events_sparse").alias("__name__"),
        F.col("event_type"),
        (F.col("user_id") % 8).cast("string").alias("shard"),
        F.expr("ts div 1000000").alias("ts"),
        F.col("value"),
    ).filter(F.expr(f"(ts div {_DAY_MS}) % 5") == 0)
    engine = PromQLEngine(samples)
    return engine.query_range(
        'absent(app_events_sparse{event_type="error", shard="7"})',
        _P_START,
        _P_END,
        _P_STEP,
        lookback_ms=_P_LOOKBACK,
    )


@query(
    "q79_promql_sort_desc",
    f"""
WITH s AS (
  SELECT event_type, epoch_ms(ts) AS ts_ms FROM events
),
b AS (
  SELECT event_type,
         {_P_START} + ((ts_ms - {_P_START} + {_P_STEP - 1}) // {_P_STEP})
             * {_P_STEP} AS t
  FROM s WHERE ts_ms > {_P_START - _P_STEP} AND ts_ms <= {_P_END}
)
SELECT t, event_type, CAST(count(*) AS DOUBLE) AS value
FROM b WHERE t <= {_P_END}
GROUP BY t, event_type
ORDER BY t, value DESC, event_type""",
)
def q79(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`sort_desc(...)` — presentation ordering by value at each step
    (ties broken by label for a deterministic cross-engine hash);
    integer-valued counts keep every value exact."""
    engine = _promql_samples(spark, sf_dir)
    return engine.query_range(
        "sort_desc(sum by (event_type) (count_over_time(app_events[1d])))",
        _P_START,
        _P_END,
        _P_STEP,
    )


# ---------------------------------------------------------------------------
# q102 — PromQL sort_by_label (the last unimplemented Prometheus 2.x
# function family)
# ---------------------------------------------------------------------------


@query(
    "q102_promql_sort_by_label",
    f"""
WITH s AS (
  SELECT event_type, epoch_ms(ts) AS ts_ms FROM events
),
b AS (
  SELECT event_type,
         {_P_START} + ((ts_ms - {_P_START} + {_P_STEP - 1}) // {_P_STEP})
             * {_P_STEP} AS t
  FROM s WHERE ts_ms > {_P_START - _P_STEP} AND ts_ms <= {_P_END}
)
SELECT t, event_type, CAST(count(*) AS DOUBLE) AS value
FROM b WHERE t <= {_P_END}
GROUP BY t, event_type
ORDER BY t, event_type DESC""",
)
def q102(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`sort_by_label_desc(v, "event_type")` — presentation ordering by
    label string value (Prometheus experimental function; with this the
    engine covers every function in the Prometheus 2.x list except
    native-histogram internals, see README parity table).  Same grouped
    count as q79 so the values are integer-exact; only the ORDER BY
    differs (label desc, not value)."""
    engine = _promql_samples(spark, sf_dir)
    return engine.query_range(
        'sort_by_label_desc(sum by (event_type) '
        '(count_over_time(app_events[1d])), "event_type")',
        _P_START,
        _P_END,
        _P_STEP,
    )


@query(
    "q103_xor_chunk_interop",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
),
xc AS (
  SELECT event_type, count(*) AS n_xor_chunks FROM (
    SELECT DISTINCT event_type, shard, ts_ms // {_DAY_MS} AS bucket
    FROM s WHERE CAST(shard AS INTEGER) >= 4
  ) GROUP BY event_type
)
SELECT s.event_type,
       count(*) AS n_samples,
       round(sum(s.value), 2) AS sum_value,
       min(s.ts_ms) AS min_ts,
       max(s.ts_ms) AS max_ts,
       coalesce(max(xc.n_xor_chunks), 0) AS n_xor_chunks
FROM s LEFT JOIN xc ON s.event_type = xc.event_type
GROUP BY s.event_type
ORDER BY s.event_type""",
)
def q103(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus XOR chunk interop (`xorchunk.py`): shards 0-3 chunk
    into the store's ``__ts``/``__values`` arrays, shards 4-7 into
    Gorilla/Prometheus XOR bytes — the exact format the reference's
    converter stores verbatim (`cmd/convert/main.go:107`,
    `schema/chunk.go:35-36`) and its own iterator never decodes
    (`prometheus/chunks_iterator.go:12-24`) — which the import
    conversion (`chunks.blobs_to_arrays`) turns into arrays; ONE union
    then explodes both and aggregates the samples.  ``n_xor_chunks``
    counts blobs whose length breaks the raw layout's 4+16n
    self-description, pinning that the XOR path actually ran (if the
    encoder silently produced raw bytes the count would be 0, not the
    oracle's per-type day-chunk count)."""
    from tsdb_parquet_spark.chunks import (
        sample_structs,
        samples_to_chunks,
        with_sample_arrays,
    )
    from tsdb_parquet_spark.schema import CHUNK_BYTES

    ev = _cat(spark, sf_dir)["events"]
    samples = ev.select(
        F.lit("app_events").alias("__name__"),
        F.col("event_type"),
        (F.col("user_id") % 8).cast("string").alias("shard"),
        F.expr("ts div 1000000").alias("ts"),
        F.col("value"),
    )
    kw = dict(chunk_span_ms=_DAY_MS, assign_series_ids=False)
    xor = samples_to_chunks(
        samples.filter(F.col("shard").cast("int") >= 4),
        _CHUNK_LABELS,
        encoding="xor",
        **kw,
    )
    # replicate the raw-layout sniff exactly (xorchunk.is_raw_chunk):
    # length == 4 + 16 * uint32_le(bytes[0:4]).  An XOR blob's first four
    # bytes (BE16 count + varint t0 bytes with high bits set) decode to a
    # huge LE uint32, so this never collides — unlike comparing against
    # the DECODED sample count, where an XOR chunk can compress to
    # exactly 4+16k bytes by coincidence.
    header_n = F.expr(
        f"conv(hex(substring({CHUNK_BYTES}, 4, 1) || "
        f"substring({CHUNK_BYTES}, 3, 1) || "
        f"substring({CHUNK_BYTES}, 2, 1) || "
        f"substring({CHUNK_BYTES}, 1, 1)), 16, 10)"
    ).cast("long")
    xor = xor.withColumn(
        "__is_xor",
        (F.length(F.col(CHUNK_BYTES)) != header_n * 16 + F.lit(4)).cast(
            "int"
        ),
    )
    chunks = samples_to_chunks(
        samples.filter(F.col("shard").cast("int") < 4), _CHUNK_LABELS, **kw
    ).withColumn("__is_xor", F.lit(0)).unionByName(with_sample_arrays(xor))
    decoded = chunks.withColumn("__samples", sample_structs())
    return (
        decoded.select(
            "event_type",
            "__is_xor",
            F.posexplode("__samples").alias("pos", "s"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.round(F.sum("s.value"), 2).alias("sum_value"),
            F.min("s.ts").alias("min_ts"),
            F.max("s.ts").alias("max_ts"),
            F.sum(
                F.when(F.col("pos") == 0, F.col("__is_xor")).otherwise(0)
            )
            .cast("long")
            .alias("n_xor_chunks"),
        )
        .orderBy("event_type")
    )


# q104's store lives at a FIXED absolute path: the oracle SQL is a static
# string, so both engines must agree on where the store is.  The Spark fn
# (re)writes it before returning its plan, so by the time either side
# reads, the store matches the current sf — the oracle is valid whenever
# it runs after its paired query at the same sf, which is how both the
# driver and tests/test_corpus.py::compare execute pairs.
_Q104_STORE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".work",
    "q104_writer_layout_contract",
)


@query(
    "q104_writer_layout_contract",
    f"""
WITH fm AS (
  SELECT * FROM parquet_file_metadata('{_Q104_STORE}/*.parquet')
),
md AS (
  SELECT * FROM parquet_metadata('{_Q104_STORE}/*.parquet')
),
flag AS (
  SELECT file_name, row_group_id, stats_min_value AS mn, stats_max_value AS mx
  FROM md WHERE path_in_schema = 'l_returnflag'
),
rg_pairs AS (
  SELECT mn, lag(mx) OVER (PARTITION BY file_name ORDER BY row_group_id)
             AS prev_mx
  FROM flag
),
fl AS (
  SELECT file_name, min(mn) AS fmn, max(mx) AS fmx
  FROM flag GROUP BY file_name
),
fl_pairs AS (
  SELECT fmn, lag(fmx) OVER (ORDER BY file_name) AS prev_fmx FROM fl
)
SELECT CAST((SELECT count(*) FROM fm) AS BIGINT) AS n_files,
       CAST((SELECT sum(num_row_groups) FROM fm) AS BIGINT) AS n_row_groups,
       CAST((SELECT sum(num_rows) FROM fm) AS BIGINT) AS n_rows,
       CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_source_rows,
       CAST((SELECT count(*) FROM rg_pairs
             WHERE prev_mx IS NOT NULL AND prev_mx > mn) AS BIGINT)
           AS n_rg_sort_violations,
       CAST((SELECT count(*) FROM fl_pairs
             WHERE prev_fmx IS NOT NULL AND prev_fmx > fmn) AS BIGINT)
           AS n_file_overlaps,
       CAST((SELECT count(*) FROM md WHERE compression <> 'ZSTD') AS BIGINT)
           AS n_nonzstd_chunks,
       CAST((SELECT count(*) FROM md WHERE path_in_schema = 'l_returnflag'
             AND encodings NOT LIKE '%DICTIONARY%') AS BIGINT)
           AS n_nodict_chunks,
       (SELECT min(l_returnflag) FROM lineitem) AS min_flag,
       (SELECT max(l_returnflag) FROM lineitem) AS max_flag""",
)
def q104(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 physical-layout contract (`db/writer.go:21-63` writes THEN
    asserts layout; q10 only proves readback equality): write lineitem
    through the sorted writer, then audit the bytes with pyarrow's
    footer reader while the oracle audits the SAME files with DuckDB's
    ``parquet_metadata()`` — two independent parquet implementations
    agreeing on file count, row-group count/rows, row-group zone-map
    sort order within files, cross-file range disjointness on the
    leading sort column, zstd on every column chunk, and dictionary
    encoding on the dict column.  Violation counts must be 0; totals tie
    the layout back to the source table.  (Bloom-filter headers are
    asserted in tests/test_writer.py via parquet-java — DuckDB 1.0
    exposes no bloom metadata.)"""
    import pyarrow.parquet as pq

    from tsdb_parquet_spark.sources.writer import (
        WriterOptions,
        write_sorted,
    )

    cat = _cat(spark, sf_dir)
    li = cat["lineitem"]
    opts = WriterOptions(
        sort_columns=[
            "l_returnflag", "l_shipdate", "l_orderkey", "l_linenumber",
        ],
        bloom_columns=["l_returnflag"],
        max_files=4,
        row_group_bytes=128 * 1024,  # several row groups per file
    )
    write_sorted(li, _Q104_STORE, opts)

    files = sorted(
        f for f in os.listdir(_Q104_STORE) if f.endswith(".parquet")
    )
    n_row_groups = n_rows = 0
    rg_sort_violations = file_overlaps = 0
    nonzstd = nodict = 0
    prev_file_max = None
    global_min = global_max = None
    for fname in files:
        md = pq.ParquetFile(os.path.join(_Q104_STORE, fname)).metadata
        n_row_groups += md.num_row_groups
        n_rows += md.num_rows
        idx = md.schema.names.index("l_returnflag")
        prev_rg_max = None
        fmin = fmax = None
        for rg in range(md.num_row_groups):
            rgmeta = md.row_group(rg)
            for j in range(rgmeta.num_columns):
                if rgmeta.column(j).compression != "ZSTD":
                    nonzstd += 1
            col = rgmeta.column(idx)
            st = col.statistics
            if not any("DICTIONARY" in e for e in col.encodings):
                nodict += 1
            if prev_rg_max is not None and prev_rg_max > st.min:
                rg_sort_violations += 1
            prev_rg_max = st.max
            fmin = st.min if fmin is None else min(fmin, st.min)
            fmax = st.max if fmax is None else max(fmax, st.max)
        if prev_file_max is not None and prev_file_max > fmin:
            file_overlaps += 1
        prev_file_max = fmax
        global_min = fmin if global_min is None else min(global_min, fmin)
        global_max = fmax if global_max is None else max(global_max, fmax)
    facts = [
        (
            len(files), n_row_groups, n_rows, li.count(),
            rg_sort_violations, file_overlaps, nonzstd, nodict,
            global_min, global_max,
        )
    ]
    return spark.createDataFrame(
        facts,
        "n_files long, n_row_groups long, n_rows long, n_source_rows long, "
        "n_rg_sort_violations long, n_file_overlaps long, "
        "n_nonzstd_chunks long, n_nodict_chunks long, "
        "min_flag string, max_flag string",
    )


def _events_tsdb_block(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf) a REAL Prometheus TSDB block directory from the
    events table: index + XOR chunk segment + meta.json
    (`tsdb_block.write_block`).  The fixture construction collects the
    encoded chunks driver-side (it is a test-data generator, like the
    reference's own fixture writer `db/writer_test.go:145-150`); the
    CONVERSION path q105 measures is fully distributed."""
    import pandas as pd

    from tsdb_parquet_spark.tsdb_block import write_block
    from tsdb_parquet_spark.xorchunk import encode_xor_chunk

    tag = os.path.basename(sf_dir.rstrip("/"))
    work = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")
    block_dir = os.path.join(work, f"tsdb_block_{tag}")
    if os.path.exists(os.path.join(block_dir, "meta.json")):
        return block_dir
    ev = _cat(spark, sf_dir)["events"]
    rows = (
        ev.select(
            F.col("event_type"),
            (F.col("user_id") % 8).cast("string").alias("shard"),
            F.expr("ts div 1000000").alias("ts"),
            F.col("value"),
        )
        .toPandas()
        .sort_values(["event_type", "shard", "ts"], kind="mergesort")
    )
    rows["bucket"] = rows["ts"] // _DAY_MS
    series = []
    for (etype, shard), g in rows.groupby(["event_type", "shard"], sort=True):
        chunks = []
        for _, cg in g.groupby("bucket", sort=True):
            ts = cg["ts"].to_numpy()
            blob = encode_xor_chunk(ts, cg["value"].to_numpy())
            chunks.append((int(ts[0]), int(ts[-1]), blob))
        series.append(
            (
                {"__name__": "app_events", "event_type": etype, "shard": shard},
                chunks,
            )
        )
    with _staged_publish(block_dir, marker="meta.json") as build:
        write_block(build, series)
    return block_dir


@query(
    "q105_tsdb_block_convert",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
),
ch AS (
  SELECT event_type, count(*) AS n_chunks FROM (
    SELECT DISTINCT event_type, shard, ts_ms // {_DAY_MS} AS bucket FROM s
  ) GROUP BY event_type
)
SELECT s.event_type,
       count(*) AS n_samples,
       round(sum(s.value), 2) AS sum_value,
       min(s.ts_ms) AS min_ts,
       max(s.ts_ms) AS max_ts,
       count(DISTINCT s.shard) AS n_series,
       max(ch.n_chunks) AS n_chunks
FROM s JOIN ch ON s.event_type = ch.event_type
GROUP BY s.event_type
ORDER BY s.event_type""",
)
def q105(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full `cmd/convert` parity (`cmd/convert/main.go:30-126`): events
    are materialized as a REAL Prometheus TSDB block (index per
    tsdb/docs/format/index.md, Gorilla XOR chunk segment, meta.json),
    then `tsdb_block.block_to_chunk_frame` ingests the block exactly as
    the reference's converter does — driver parses only the index,
    executors fetch and CRC-verify chunk records per partition — and the
    codec-sniffing decode turns the XOR payloads back into samples.  The
    aggregate must hash-match the raw events: block write -> index walk
    -> distributed record fetch -> XOR decode is lossless end-to-end.
    The reference can only WRITE this layout to parquet; it cannot read
    its own chunk bytes back (`prometheus/chunks_iterator.go:12-24`)."""
    from tsdb_parquet_spark.chunks import sample_structs, with_sample_arrays
    from tsdb_parquet_spark.tsdb_block import block_to_chunk_frame

    block_dir = _events_tsdb_block(spark, sf_dir)
    frame = block_to_chunk_frame(spark, block_dir)
    decoded = with_sample_arrays(frame).select(
        "event_type",
        "shard",
        F.posexplode(sample_structs()).alias("pos", "s"),
    )
    return (
        decoded.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.round(F.sum("s.value"), 2).alias("sum_value"),
            F.min("s.ts").alias("min_ts"),
            F.max("s.ts").alias("max_ts"),
            F.countDistinct("shard").alias("n_series"),
            F.sum(F.when(F.col("pos") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_chunks"),
        )
        .orderBy("event_type")
    )


def _block_chunk_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf) a sorted chunk store FROM the real TSDB block
    (`_events_tsdb_block`): block bytes -> distributed convert
    (`tsdb_block.block_to_chunk_frame`) -> layout-contract sorted write
    (`sources/writer.py write_sorted`).  The store q106 queries — the
    converter's OUTPUT side, fed by its real INPUT side."""
    from tsdb_parquet_spark.schema import sort_columns
    from tsdb_parquet_spark.sources.writer import WriterOptions, write_sorted
    from tsdb_parquet_spark.tsdb_block import block_to_chunk_frame

    tag = os.path.basename(sf_dir.rstrip("/"))
    work = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")
    root = os.path.join(work, f"block_store_v1_{tag}")
    if os.path.exists(os.path.join(root, "_SUCCESS")):
        return root
    block_dir = _events_tsdb_block(spark, sf_dir)
    frame = block_to_chunk_frame(spark, block_dir)
    opts = WriterOptions(
        sort_columns=sort_columns(_CHUNK_LABELS),
        bloom_columns=[c for c in _CHUNK_LABELS if c != "__name__"],
        max_files=16,
    )
    with _staged_publish(root, marker="_SUCCESS") as build:
        write_sorted(frame, build, opts)
    return root


@query(
    "q106_block_convert_promql",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
),
steps AS (SELECT t FROM range({_P_START}, {_P_END + 1}, {_P_STEP}) r(t)),
last AS (
  SELECT st.t, s.event_type, s.shard, arg_max(s.value, s.ts_ms) AS v
  FROM steps st
  JOIN s ON s.ts_ms > st.t - {_P_LOOKBACK} AND s.ts_ms <= st.t
  GROUP BY 1, 2, 3
)
SELECT t, round(sum(v), 2) AS value
FROM last GROUP BY 1 ORDER BY 1""",
)
def q106(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship end-to-end converter parity — the full
    `promql_test.go:14-59` lifecycle against REAL block bytes: events ->
    Prometheus TSDB block on disk (index + XOR chunk segment + valid-ULID
    meta.json) -> distributed block convert -> sorted chunk store
    (`db/writer.go:169-216` layout contract) -> ChunkQuerier ->
    `sum(app_events)` through the PromQL engine with staleness lookback.
    The reference runs its PromQL test against a STUB chunk iterator
    (`prometheus/chunks_iterator.go:12-24`); here every stage is the
    real artifact, and the result must hash-match DuckDB computing the
    same instant vectors from the raw events table."""
    from tsdb_parquet_spark.plans.promql import PromQLEngine
    from tsdb_parquet_spark.querier import ChunkQuerier

    store = _block_chunk_store(spark, sf_dir)
    q = ChunkQuerier.from_parquet(spark, store)
    engine = PromQLEngine(
        q.select_samples(labels=_CHUNK_LABELS), extrapolate=False
    )
    out = engine.query_range(
        "sum(app_events)",
        _P_START,
        _P_END,
        _P_STEP,
        lookback_ms=_P_LOOKBACK,
    )
    return out.select("t", F.round("value", 2).alias("value"))


#: Calendar cutoffs splitting the events span into three contiguous
#: TSDB blocks (2024-01-11 / 2024-01-21 00:00 UTC — day-bucket aligned,
#: so no chunk straddles a block edge).  Shared with q107's oracle.
_BLOCK_CUT_1 = 1704931200000
_BLOCK_CUT_2 = 1705795200000


def _events_tsdb_block_farm(spark: SparkSession, sf_dir: str) -> list[str]:
    """Build (once per sf) a 3-block farm: the events span split at the
    calendar cutoffs, each range written as its own spec-conformant
    block directory — the thousands-of-blocks shape a real Prometheus
    data dir has, scaled down."""
    import pandas as pd

    from tsdb_parquet_spark.tsdb_block import write_block
    from tsdb_parquet_spark.xorchunk import encode_xor_chunk

    tag = os.path.basename(sf_dir.rstrip("/"))
    work = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")
    farm = os.path.join(work, f"tsdb_block_farm_{tag}")
    dirs = [os.path.join(farm, f"block{b}") for b in range(3)]
    if all(os.path.exists(os.path.join(d, "meta.json")) for d in dirs):
        return dirs
    ev = _cat(spark, sf_dir)["events"]
    rows = (
        ev.select(
            F.col("event_type"),
            (F.col("user_id") % 8).cast("string").alias("shard"),
            F.expr("ts div 1000000").alias("ts"),
            F.col("value"),
        )
        .toPandas()
        .sort_values(["event_type", "shard", "ts"], kind="mergesort")
    )
    rows["bucket"] = rows["ts"] // _DAY_MS
    rows["blk"] = (rows["ts"] >= _BLOCK_CUT_1).astype(int) + (
        rows["ts"] >= _BLOCK_CUT_2
    ).astype(int)
    with _staged_publish(farm, marker="block2/meta.json") as build:
        for b in range(3):
            g_all = rows[rows["blk"] == b]
            series = []
            for (etype, shard), g in g_all.groupby(
                ["event_type", "shard"], sort=True
            ):
                chunks = []
                for _, cg in g.groupby("bucket", sort=True):
                    ts = cg["ts"].to_numpy()
                    blob = encode_xor_chunk(ts, cg["value"].to_numpy())
                    chunks.append((int(ts[0]), int(ts[-1]), blob))
                series.append(
                    (
                        {
                            "__name__": "app_events",
                            "event_type": etype,
                            "shard": shard,
                        },
                        chunks,
                    )
                )
            write_block(os.path.join(build, f"block{b}"), series)
    return dirs


def _block_sync_store_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build (once per sf) the incrementally-synced store: stage blocks
    0-1 of the farm as a data dir, sync; stage block 2 (the 'new block
    appeared' event), sync again — then return the store's chunk frame
    (all parts unioned).  Ordinals follow meta.json minTime order, so
    the series-id high bits equal the calendar split index."""
    from tsdb_parquet_spark.sources.writer import read_roots
    from tsdb_parquet_spark.tsdb_block import sync_blocks

    dirs = _events_tsdb_block_farm(spark, sf_dir)
    tag = os.path.basename(sf_dir.rstrip("/"))
    work = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")
    store = os.path.join(work, f"block_sync_store_v2_{tag}")
    parts_file = os.path.join(store, "_q107_parts.json")
    if os.path.exists(parts_file):
        with open(parts_file) as fh:
            return read_roots(spark, json.load(fh))
    import shutil

    # the watched data dir is pid-scoped scratch (symlinks only), torn
    # down after the sync; the store publishes via staged rename
    staging = os.path.join(work, f"block_sync_data_{tag}-{os.getpid()}")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging, exist_ok=True)
    try:
        with _staged_publish(store, marker="_q107_parts.json") as build:
            for d in dirs[:2]:
                os.symlink(d, os.path.join(staging, os.path.basename(d)))
            r1 = sync_blocks(spark, staging, build, _CHUNK_LABELS)
            os.symlink(
                dirs[2], os.path.join(staging, os.path.basename(dirs[2]))
            )
            r2 = sync_blocks(spark, staging, build, _CHUNK_LABELS)
            assert len(r1["converted"]) == 2 and len(r2["converted"]) == 1
            # part paths are recorded relative to the FINAL store location
            parts = [p.replace(build, store) for p in (r1["part"], r2["part"])]
            with open(os.path.join(build, "_q107_parts.json"), "w") as fh:
                json.dump(parts, fh)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    with open(parts_file) as fh:
        return read_roots(spark, json.load(fh))


@query(
    "q107_multi_block_convert",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
),
b AS (
  SELECT *,
         CAST(ts_ms >= {_BLOCK_CUT_1} AS INT)
         + CAST(ts_ms >= {_BLOCK_CUT_2} AS INT) AS blk
  FROM s
)
SELECT blk, event_type,
       count(*) AS n_samples,
       round(sum(value), 2) AS sum_value,
       count(DISTINCT shard) AS n_series,
       min(ts_ms) AS min_ts,
       max(ts_ms) AS max_ts
FROM b GROUP BY blk, event_type ORDER BY blk, event_type""",
)
def q107(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-FARM convert (`tsdb_block.blocks_to_chunk_frame` via the
    INCREMENTAL `sync_blocks` workflow): three real block directories
    ingested with index parse AND payload fetch executor-side, exactly
    one task per block — the per-block parallelism a 100 TB Prometheus
    data dir (thousands of blocks) needs, where
    `block_to_chunk_frame`'s driver-side index walk (the reference
    converter's own shape, `cmd/convert/main.go:79-117`) would
    serialize on the driver.  The store is built by TWO sync batches
    (blocks 0-1, then block 2 arriving later) against a staged data
    dir, exercising ULID skip-tracking and stable cross-batch block
    ordinals; series ids stay file-local per block with the ordinal in
    the high 32 bits, and the aggregate over the synced store must
    hash-match DuckDB recomputing the same calendar split from raw
    events — proving the incremental farm path is lossless."""
    from tsdb_parquet_spark.chunks import sample_structs, with_sample_arrays
    from tsdb_parquet_spark.schema import SERIES_ID

    frame = _block_sync_store_frame(spark, sf_dir)
    decoded = with_sample_arrays(frame).select(
        F.shiftrightunsigned(F.col(SERIES_ID), 32).cast("int").alias("blk"),
        "event_type",
        "shard",
        F.explode(sample_structs()).alias("s"),
    )
    return (
        decoded.groupBy("blk", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.round(F.sum("s.value"), 2).alias("sum_value"),
            F.countDistinct("shard").alias("n_series"),
            F.min("s.ts").alias("min_ts"),
            F.max("s.ts").alias("max_ts"),
        )
        .orderBy("blk", "event_type")
    )


_WAL_CUT = 1705795200000  # 2024-01-21T00:00Z — head/compacted boundary


def _events_data_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf) a complete Prometheus DATA DIR from events:
    samples before ``_WAL_CUT`` live in a real compacted block
    (index + XOR chunk segment + meta.json), samples at/after it in a
    real head WAL (multi-segment, with a checkpoint carrying the series
    records — the layout a live installation shows after its first
    checkpoint cycle).  Fixture generation is driver-side like
    `_events_tsdb_block`; the CONVERSION paths q108/q109 measure are
    fully distributed."""
    from tsdb_parquet_spark.tsdb_block import write_block
    from tsdb_parquet_spark.tsdb_wal import WalWriter, write_checkpoint
    from tsdb_parquet_spark.xorchunk import encode_xor_chunk

    tag = os.path.basename(sf_dir.rstrip("/"))
    work = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")
    final_dir = os.path.join(work, f"tsdb_data_dir_{tag}")
    if os.path.exists(os.path.join(final_dir, "_DONE")):
        return final_dir
    import shutil

    # pid-suffixed build root + rename publish: concurrent first builds
    # (bench + pytest on the same sf) must not interleave in one dir
    data_dir = f"{final_dir}.build-{os.getpid()}"
    shutil.rmtree(data_dir, ignore_errors=True)
    ev = _cat(spark, sf_dir)["events"]
    rows = (
        ev.select(
            F.col("event_type"),
            (F.col("user_id") % 8).cast("string").alias("shard"),
            F.expr("ts div 1000000").alias("ts"),
            F.col("ts").alias("ts_ns"),
            F.col("value"),
        )
        .toPandas()
        .sort_values(
            ["event_type", "shard", "ts", "ts_ns", "value"],
            kind="mergesort",
        )
    )
    # Prometheus append semantics: a second sample at an existing
    # (series, ts) is rejected — first write wins.  Deterministic rule
    # (min original-ns ts, then min value) so the DuckDB oracle can
    # replicate it with a row_number window; ms-collisions appear once
    # the sf1 probe's shifted event copies overlap
    rows = rows.drop_duplicates(
        ["event_type", "shard", "ts"], keep="first"
    ).drop(columns=["ts_ns"])
    old = rows[rows["ts"] < _WAL_CUT]
    head = rows[rows["ts"] >= _WAL_CUT]
    # compacted block from the old half
    old = old.assign(bucket=old["ts"] // _DAY_MS)
    series = []
    for (etype, shard), g in old.groupby(["event_type", "shard"], sort=True):
        chunks = []
        for _, cg in g.groupby("bucket", sort=True):
            ts = cg["ts"].to_numpy()
            chunks.append(
                (int(ts[0]), int(ts[-1]),
                 encode_xor_chunk(ts, cg["value"].to_numpy()))
            )
        series.append(
            ({"__name__": "app_events", "event_type": etype, "shard": shard},
             chunks)
        )
    block_dir = os.path.join(data_dir, "block_tmp")
    ulid = write_block(block_dir, series)
    os.rename(block_dir, os.path.join(data_dir, ulid))
    # head WAL from the new half: series refs 1..N in sorted-series
    # order, defined ONLY in the checkpoint (replay must resolve live
    # segments' refs against it); samples stream time-ordered through
    # small segments so the distributed drain gets real multi-segment
    # parallelism
    wal_dir = os.path.join(data_dir, "wal")
    head = head.sort_values(["ts", "event_type", "shard"], kind="mergesort")
    keys = sorted(set(zip(head["event_type"], head["shard"])))
    refs = {k: i + 1 for i, k in enumerate(keys)}
    write_checkpoint(
        wal_dir,
        0,
        [
            (refs[(e, s)],
             {"__name__": "app_events", "event_type": e, "shard": s})
            for e, s in keys
        ],
    )
    # samples go snappy-flagged (the Prometheus default since v2.20;
    # our pure-python block-format codec round-trips it) while the
    # checkpoint above stays uncompressed — the drain q108/q109 measure
    # must handle both record encodings in one WAL
    w = WalWriter(
        wal_dir,
        segment_bytes=256 * 1024,
        first_segment=1,
        compression="snappy",
    )
    batch: list[tuple[int, int, float]] = []
    for e, s, ts, v in zip(
        head["event_type"], head["shard"], head["ts"], head["value"]
    ):
        batch.append((refs[(e, s)], int(ts), float(v)))
        if len(batch) >= 2000:
            w.log_samples(batch)
            batch = []
    if batch:
        w.log_samples(batch)
    w.close()
    with open(os.path.join(data_dir, "_DONE"), "w") as fh:
        fh.write("ok\n")
    try:
        os.rename(data_dir, final_dir)
    except OSError:
        # another process published first; its build is equivalent
        shutil.rmtree(data_dir, ignore_errors=True)
    return final_dir


@query(
    "q108_wal_head_drain",
    f"""
WITH raw AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, ts, value
  FROM events
  WHERE epoch_ms(ts) >= {_WAL_CUT}
),
s AS (
  -- Prometheus append semantics mirrored by the fixture: first write
  -- wins per (series, ms); deterministic by (original ts, value)
  SELECT event_type, shard, ts_ms, value FROM (
    SELECT *, row_number() OVER (
      PARTITION BY event_type, shard, ts_ms ORDER BY ts, value) AS rn
    FROM raw) WHERE rn = 1
)
SELECT event_type,
       count(*) AS n_samples,
       round(sum(value), 2) AS sum_value,
       min(ts_ms) AS min_ts,
       max(ts_ms) AS max_ts,
       count(DISTINCT shard) AS n_series
FROM s GROUP BY event_type ORDER BY event_type""",
)
def q108(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed head-WAL drain (`tsdb_wal.wal_to_samples_frame`):
    the head samples exist ONLY as spec-exact WAL bytes — 32 KiB-page
    record framing, CRC32C per fragment, Series records solely in the
    checkpoint, Samples records varint-delta-encoded across ~dozens of
    256 KiB segments — and the drain runs one task per segment with a
    broadcast ref->labels join.  The aggregate must hash-match DuckDB
    over the same time slice of raw events: framing walk, payload
    decode, checkpoint precedence, and the ref join are lossless.  The
    reference cannot read a WAL at all (`cmd/convert/main.go:30-126`
    opens compacted blocks via the Prometheus libraries); this is the
    2-3 h of data block-only conversion drops."""
    from tsdb_parquet_spark.tsdb_wal import wal_to_samples_frame

    data_dir = _events_data_dir(spark, sf_dir)
    samples = wal_to_samples_frame(
        spark, os.path.join(data_dir, "wal"), _CHUNK_LABELS
    )
    return (
        samples.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
            F.countDistinct("shard").alias("n_series"),
        )
        .orderBy("event_type")
    )


@query(
    "q109_data_dir_convert",
    f"""
WITH raw AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, ts, value
  FROM events
),
s AS (
  SELECT event_type, shard, ts_ms, value FROM (
    SELECT *, row_number() OVER (
      PARTITION BY event_type, shard, ts_ms ORDER BY ts, value) AS rn
    FROM raw) WHERE rn = 1
)
SELECT event_type,
       CAST(ts_ms >= {_WAL_CUT} AS INT) AS from_head,
       count(*) AS n_samples,
       round(sum(value), 2) AS sum_value,
       min(ts_ms) AS min_ts,
       max(ts_ms) AS max_ts,
       count(DISTINCT shard) AS n_series
FROM s GROUP BY event_type, from_head
ORDER BY event_type, from_head""",
)
def q109(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL data-dir convert (`tsdb_wal.data_dir_to_chunk_frame`, the
    `convert --data-dir` CLI path): one chunk frame from a complete
    Prometheus data dir — the compacted block (executor-side index
    parse + chunk fetch) unioned with the head WAL re-chunked through
    `samples_to_chunks`.  Origin is recovered from the series-id
    contract alone (block ids sit under ordinal 0's 32-bit space,
    WAL-origin ids above it — `schema/chunk.go:28-30` file-local
    identity), and the per-origin aggregates must hash-match DuckDB
    splitting raw events at the same head boundary: nothing in the
    installation is dropped or double-counted at the block/WAL seam."""
    from tsdb_parquet_spark.chunks import sample_structs, with_sample_arrays
    from tsdb_parquet_spark.schema import SERIES_ID
    from tsdb_parquet_spark.tsdb_wal import data_dir_to_chunk_frame

    data_dir = _events_data_dir(spark, sf_dir)
    frame = data_dir_to_chunk_frame(spark, data_dir, _CHUNK_LABELS)
    decoded = with_sample_arrays(frame).select(
        "event_type",
        "shard",
        (F.col(SERIES_ID) >= (1 << 32)).cast("int").alias("from_head"),
        F.explode(sample_structs()).alias("s"),
    )
    return (
        decoded.groupBy("event_type", "from_head")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.round(F.sum("s.value"), 2).alias("sum_value"),
            F.min("s.ts").alias("min_ts"),
            F.max("s.ts").alias("max_ts"),
            F.countDistinct("shard").alias("n_series"),
        )
        .orderBy("event_type", "from_head")
    )


#: staleness scenario (q110): even-shard series lose their scrape
#: target for two days — samples in [GAP_START, GAP_END) are absent and
#: a staleness marker lands at GAP_START + 1 h.  GAP_START sits 2 h
#: before a step-grid midnight, so the next step evaluates with real
#: samples still inside the 6 h lookback but the marker as the most
#: recent sample: stale-aware evaluation drops the series, a
#: stale-unaware one sums the marker's NaN — hash-distinguishable.
_STALE_GAP_START = 1706054400000 - 2 * 3600 * 1000  # 2024-01-23T22:00Z
_STALE_GAP_END = 1706227200000  # 2024-01-26T00:00Z
_STALE_MARK = _STALE_GAP_START + 3_600_000


def _events_stale_wal(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf) a head WAL with two staleness scenarios:
    even-shard series die mid-span for two days (gap + marker at
    ``_STALE_MARK``) and revive when samples resume — the
    target-vanishes-and-returns shape — and EVERY series is terminated
    by a final marker one hour after its last sample.  Derived from
    `_events_data_dir`'s proven WAL (same first-write-wins samples)."""
    from tsdb_parquet_spark.tsdb_wal import (
        WalWriter,
        read_wal,
        stale_marker,
    )

    tag = os.path.basename(sf_dir.rstrip("/"))
    work = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")
    final_dir = os.path.join(work, f"stale_wal_{tag}")
    if os.path.exists(os.path.join(final_dir, "_DONE")):
        return final_dir
    import shutil

    build = f"{final_dir}.build-{os.getpid()}"
    shutil.rmtree(build, ignore_errors=True)
    src = os.path.join(_events_data_dir(spark, sf_dir), "wal")
    series_map, samples = read_wal(src)
    even = {
        ref
        for ref, labels in series_map.items()
        if int(labels.get("shard", "1")) % 2 == 0
    }
    samples = [
        (ref, ts, v)
        for ref, ts, v in samples
        if not (ref in even and _STALE_GAP_START <= ts < _STALE_GAP_END)
    ]
    w = WalWriter(build, segment_bytes=256 * 1024)
    w.log_series(sorted(series_map.items()))
    last: dict[int, int] = {}
    mid_marked = False
    for i in range(0, len(samples), 2000):
        batch = samples[i : i + 2000]
        if not mid_marked and batch and batch[0][1] >= _STALE_MARK:
            # the gap markers land in log order, right where the head
            # would have written them
            w.log_samples(
                [(ref, _STALE_MARK, stale_marker()) for ref in sorted(even)]
            )
            mid_marked = True
        w.log_samples(batch)
        for ref, ts, _ in batch:
            last[ref] = max(last.get(ref, ts), ts)
    if not mid_marked and even:
        w.log_samples(
            [(ref, _STALE_MARK, stale_marker()) for ref in sorted(even)]
        )
    w.log_samples(
        [(ref, last[ref] + 3_600_000, stale_marker()) for ref in sorted(last)]
    )
    w.close()
    with open(os.path.join(build, "_DONE"), "w") as fh:
        fh.write("ok\n")
    try:
        os.rename(build, final_dir)
    except OSError:
        shutil.rmtree(build, ignore_errors=True)
    return final_dir


@query(
    "q110_promql_staleness",
    f"""
WITH raw AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, ts, value
  FROM events
  WHERE epoch_ms(ts) >= {_WAL_CUT}
),
dedup AS (
  SELECT event_type, shard, ts_ms, value FROM (
    SELECT *, row_number() OVER (
      PARTITION BY event_type, shard, ts_ms ORDER BY ts, value) AS rn
    FROM raw) WHERE rn = 1
),
s AS (
  -- even-shard series lose their target for two days (fixture gap)
  SELECT * FROM dedup
  WHERE NOT (CAST(shard AS INT) % 2 = 0
             AND ts_ms >= {_STALE_GAP_START} AND ts_ms < {_STALE_GAP_END})
),
markers AS (
  SELECT event_type, shard, max(ts_ms) + 3600000 AS m
  FROM s GROUP BY 1, 2
  UNION ALL
  SELECT DISTINCT event_type, shard, {_STALE_MARK} AS m
  FROM s WHERE CAST(shard AS INT) % 2 = 0
),
steps AS (SELECT t FROM range({_P_START}, {_P_END + 1}, {_P_STEP}) r(t)),
inwin AS (
  SELECT st.t, s.event_type, s.shard,
         arg_max(s.value, s.ts_ms) AS v,
         max(s.ts_ms) AS lastreal
  FROM steps st
  JOIN s ON s.ts_ms > st.t - {_P_LOOKBACK} AND s.ts_ms <= st.t
  GROUP BY 1, 2, 3
),
alive AS (
  -- dead iff a staleness marker is the series' most recent sample at
  -- or before t: any marker in (lastreal, t]
  SELECT iw.* FROM inwin iw
  WHERE NOT EXISTS (
    SELECT 1 FROM markers k
    WHERE k.event_type = iw.event_type AND k.shard = iw.shard
      AND k.m > iw.lastreal AND k.m <= iw.t
  )
)
SELECT t, round(sum(v), 2) AS value
FROM alive GROUP BY 1 ORDER BY 1""",
)
def q110(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL staleness end-to-end through REAL WAL bytes: every series
    in the head WAL is terminated by a bit-exact staleness marker
    (`prometheus value.StaleNaN`) 1 h after its last sample; the drain
    (`tsdb_wal.wal_to_samples_frame(stale="mark")`) computes the marker
    bit test at decode — NaN payloads cannot cross the Arrow bridge —
    and the engine's stale-aware instant lookback returns NO value for
    a series whose most recent in-window sample is the marker.
    ``sum(app_events)`` therefore drops each series exactly one hour
    after its death, which the DuckDB oracle replicates with the
    last_ts + 1h cutoff rule.  A stale-UNAWARE evaluation would keep
    every series alive for the full 6 h lookback and sum a NaN into
    late steps — hash-distinguishable.  The reference delegates PromQL
    to the real engine and never stores markers at all
    (`prometheus/chunks_iterator.go:12-24` emits constant floats)."""
    from tsdb_parquet_spark.plans.promql import PromQLEngine
    from tsdb_parquet_spark.tsdb_wal import wal_to_samples_frame

    wal = _events_stale_wal(spark, sf_dir)
    samples = wal_to_samples_frame(
        spark, wal, _CHUNK_LABELS, stale="mark"
    )
    engine = PromQLEngine(samples, extrapolate=False)
    out = engine.query_range(
        "sum(app_events)",
        _P_START,
        _P_END,
        _P_STEP,
        lookback_ms=_P_LOOKBACK,
    )
    return out.select("t", F.round("value", 2).alias("value"))


def _events_remote_write_payloads(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf) a parquet of captured remote-write POST
    bodies from events: 16 sender batches (``user_id % 16``), each a
    snappy-framed protobuf — even batches protocol 1.0
    (`prometheus.WriteRequest`), odd batches protocol 2.0
    (`io.prometheus.write.v2.Request`, symbol-interned) — holding one
    TimeSeries per (event_type, shard) present in the batch.  The same
    series appears in two batches (16 batches fold onto 8 shard
    labels), exercising cross-payload union on decode.  Fixture
    generation is driver-side like `_events_tsdb_block`; the INGEST
    path q111 measures is fully distributed."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from tsdb_parquet_spark.remote_write import (
        encode_write_request,
        frame_payload,
    )

    tag = os.path.basename(sf_dir.rstrip("/"))
    work = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")
    final = os.path.join(work, f"remote_write_{tag}.parquet")
    if os.path.exists(final):
        return final
    ev = _cat(spark, sf_dir)["events"]
    rows = (
        ev.select(
            (F.col("user_id") % 16).alias("batch"),
            F.col("event_type"),
            (F.col("user_id") % 8).cast("string").alias("shard"),
            F.expr("ts div 1000000").alias("ts_ms"),
            F.col("value"),
        )
        .toPandas()
        .sort_values(["batch", "event_type", "shard", "ts_ms", "value"],
                     kind="mergesort")
    )
    batches, versions, payloads = [], [], []
    for batch, g in rows.groupby("batch", sort=True):
        series = [
            (
                {"__name__": "app_events", "event_type": etype,
                 "shard": shard},
                list(zip(sg["ts_ms"].tolist(), sg["value"].tolist())),
            )
            for (etype, shard), sg in g.groupby(["event_type", "shard"],
                                                sort=True)
        ]
        version = 1 if batch % 2 == 0 else 2
        batches.append(int(batch))
        versions.append(version)
        payloads.append(frame_payload(encode_write_request(series, version)))
    table = pa.table(
        {
            "batch": pa.array(batches, pa.int32()),
            "version": pa.array(versions, pa.int32()),
            "payload": pa.array(payloads, pa.binary()),
        }
    )
    os.makedirs(work, exist_ok=True)
    # pid-suffixed write + rename publish: racing first builds must not
    # interleave (same contract as _events_data_dir)
    tmp = f"{final}.build-{os.getpid()}"
    papq.write_table(table, tmp)
    os.replace(tmp, final)
    return final


@query(
    "q111_remote_write_ingest",
    """
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
)
SELECT event_type,
       count(*) AS n_samples,
       round(sum(value), 2) AS sum_value,
       min(ts_ms) AS min_ts,
       max(ts_ms) AS max_ts,
       count(DISTINCT shard) AS n_series
FROM s GROUP BY event_type ORDER BY event_type""",
)
def q111(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remote-write ingest — the Prometheus ecosystem's PUSH path,
    which the reference lacks entirely (it ingests only finished TSDB
    blocks, `cmd/convert/main.go:30-126`): 16 captured POST bodies —
    snappy-framed protobufs, HALF protocol 1.0 (`prometheus.
    WriteRequest`) and HALF 2.0 (`io.prometheus.write.v2.Request`,
    symbol-interned), version sniffed per payload exactly as a receiver
    dispatches per request — are decoded executor-side
    (`remote_write.remote_write_frame`, wire-spec protobuf parse with
    no generated stubs) and the aggregate must hash-match DuckDB over
    the raw events: encode -> snappy -> distributed decode is lossless
    across BOTH protocol versions, including series split across
    payloads."""
    from tsdb_parquet_spark.remote_write import remote_write_frame

    path = _events_remote_write_payloads(spark, sf_dir)
    # round-robin, not hash: payloads hash-bucketed into slots leave
    # ~1/3 of them empty (collisions); round-robin spreads one payload
    # per task, and placement cannot affect the aggregate.  spread()
    # (vs a hard repartition(16)) is scale-adaptive: a spool with more
    # files than cores already scans wide and is NOT down-coalesced.
    payloads = spread(spark.read.parquet(path))
    samples = remote_write_frame(
        payloads, ["__name__", "event_type", "shard"]
    )
    return (
        samples.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
            F.countDistinct("shard").alias("n_series"),
        )
        .orderBy("event_type")
    )


def _events_pushed_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf) the full remote-write PUSH path and return
    the resulting compact store dir: the q111 POST bodies are actually
    POSTed over HTTP to the loopback receiver
    (`sources.remote_write_server.RemoteWriteServer` — socket, headers,
    snappy validation, spool file per request), the spool drains
    through Structured Streaming
    (`streaming.receiver.remote_write_spool_ingestor`, executor-side
    protobuf decode per micro-batch), and `finalize()` compacts the
    parts into a sorted store with dense series ids.  q111 proved the
    decode; THIS fixture chains socket -> spool -> stream -> store, so
    q115 queries what a live receiver deployment would serve."""
    import shutil
    import urllib.request

    import pyarrow.parquet as papq

    from tsdb_parquet_spark.sources.remote_write_server import (
        RemoteWriteServer,
    )
    from tsdb_parquet_spark.streaming.receiver import (
        remote_write_spool_ingestor,
    )

    tag = os.path.basename(sf_dir.rstrip("/"))
    work = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")
    final = os.path.join(work, f"pushed_store_{tag}")
    marker = os.path.join(final, "_DONE")
    if os.path.exists(marker):
        return os.path.join(final, "store", "compact")
    build = f"{final}.build-{os.getpid()}"
    shutil.rmtree(build, ignore_errors=True)
    spool = os.path.join(build, "spool")
    root = os.path.join(build, "store")
    os.makedirs(spool)
    payloads = papq.read_table(
        _events_remote_write_payloads(spark, sf_dir)
    ).to_pylist()
    with RemoteWriteServer(spool) as url:
        for row in payloads:
            req = urllib.request.Request(
                f"{url}/api/v1/write",
                data=row["payload"],
                headers={
                    "Content-Encoding": "snappy",
                    "Content-Type": "application/x-protobuf",
                    "X-Prometheus-Remote-Write-Version": (
                        "2.0.0" if row["version"] == 2 else "0.1.0"
                    ),
                },
                method="POST",
            )
            with urllib.request.urlopen(req, timeout=10) as resp:
                if resp.status != 204:
                    raise RuntimeError(
                        f"receiver rejected payload: {resp.status}"
                    )
    ingestor, stream = remote_write_spool_ingestor(
        spark, spool, root, _CHUNK_LABELS
    )
    ingestor.ingest(stream)
    ingestor.finalize()
    with open(os.path.join(build, "_DONE"), "w") as fh:
        fh.write("ok")
    try:
        os.rename(build, final)
    except OSError:
        shutil.rmtree(build, ignore_errors=True)
    return os.path.join(final, "store", "compact")


@query(
    "q115_remote_write_push_to_promql",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
),
steps AS (SELECT t FROM range({_P_START}, {_P_END + 1}, {_P_STEP}) r(t)),
last AS (
  SELECT st.t, s.event_type, s.shard, arg_max(s.value, s.ts_ms) AS v
  FROM steps st
  JOIN s ON s.ts_ms > st.t - {_P_LOOKBACK} AND s.ts_ms <= st.t
  GROUP BY 1, 2, 3
)
SELECT t, event_type, round(sum(v), 2) AS value
FROM last GROUP BY 1, 2 ORDER BY 1, 2""",
)
def q115(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remote-write receiver END-TO-END (verdict r09 #4) — the full
    live push path as one driver-checked chain: POST over a real
    socket to the loopback receiver -> spool -> Structured Streaming
    drain (executor-side protobuf decode, exactly-once batch-id parts)
    -> finalize into the sorted store -> ChunkQuerier -> PromQL
    ``sum by (event_type) (app_events)`` with staleness lookback,
    hash-matched against DuckDB computing the same instant vectors
    from the raw events.  The reference ingests only finished TSDB
    blocks; this is the path a live Prometheus pushes through."""
    from tsdb_parquet_spark.plans.promql import PromQLEngine
    from tsdb_parquet_spark.querier import ChunkQuerier

    store = _events_pushed_store(spark, sf_dir)
    q = ChunkQuerier.from_parquet(spark, store)
    engine = PromQLEngine(
        q.select_samples(labels=_CHUNK_LABELS), extrapolate=False
    )
    out = engine.query_range(
        "sum by (event_type) (app_events)",
        _P_START,
        _P_END,
        _P_STEP,
        lookback_ms=_P_LOOKBACK,
    )
    return out.select(
        "t", "event_type", F.round("value", 2).alias("value")
    ).orderBy("t", "event_type")


def _events_export_block_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf) a REAL Prometheus TSDB block EXPORTED from
    the sorted chunk store by the distributed reverse converter
    (`tsdb_block.export_block`): store parts (RAW-codec chunks) ->
    executor-side XOR re-encode + segment-file writes -> driver index
    assembly from metadata only.  Unlike `_events_tsdb_block` (a
    driver-side fixture writer), THIS path is itself the system under
    test — q112 measures the exporter, then proves it by reading the
    block back through the forward converter."""
    import shutil

    from tsdb_parquet_spark.tsdb_block import export_block

    tag = os.path.basename(sf_dir.rstrip("/"))
    work = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")
    final = os.path.join(work, f"export_block_{tag}")
    if os.path.exists(os.path.join(final, "meta.json")):
        return final
    build = f"{final}.build-{os.getpid()}"
    shutil.rmtree(build, ignore_errors=True)
    store = events_chunk_store(spark, sf_dir)
    export_block(spark.read.parquet(store), build)
    try:
        os.rename(build, final)
    except OSError:
        # a racing build published first; its block is equivalent
        shutil.rmtree(build, ignore_errors=True)
    return final


@query(
    "q112_block_export_roundtrip",
    _CHUNK_ORACLE_CTE
    + """
, nch AS (
  SELECT event_type, count(*) AS n_chunks FROM ch GROUP BY event_type
)
SELECT s.event_type,
       count(*) AS n_samples,
       round(sum(s.value), 2) AS sum_value,
       min(s.ts_ms) AS min_ts,
       max(s.ts_ms) AS max_ts,
       count(DISTINCT s.shard) AS n_series,
       max(nch.n_chunks) AS n_chunks
FROM s JOIN nch ON s.event_type = nch.event_type
GROUP BY s.event_type
ORDER BY s.event_type""",
)
def q112(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REVERSE converter end-to-end (`tsdb_block.export_block`): the
    sorted chunk store — RAW-codec chunk bytes — is exported as a real
    Prometheus TSDB block with chunk payloads never touching the driver
    (per-task segment files, XOR re-encode executor-side, driver
    assembles only the index), then read BACK through the forward
    converter (`block_to_chunk_frame`) and decoded; the aggregate must
    hash-match DuckDB over the raw events.  Store -> block -> store is
    lossless, so a parquet store can be handed back to any
    Prometheus-ecosystem reader (promtool/Thanos backfill) — the
    reference converter is strictly one-way (`cmd/convert/main.go`)."""
    from tsdb_parquet_spark.chunks import sample_structs, with_sample_arrays
    from tsdb_parquet_spark.tsdb_block import block_to_chunk_frame

    block_dir = _events_export_block_dir(spark, sf_dir)
    frame = block_to_chunk_frame(spark, block_dir)
    decoded = with_sample_arrays(frame).select(
        "event_type",
        "shard",
        F.posexplode(sample_structs()).alias("pos", "s"),
    )
    return (
        decoded.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.round(F.sum("s.value"), 2).alias("sum_value"),
            F.min("s.ts").alias("min_ts"),
            F.max("s.ts").alias("max_ts"),
            F.countDistinct("shard").alias("n_series"),
            F.sum(F.when(F.col("pos") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_chunks"),
        )
        .orderBy("event_type")
    )


def _events_scrape_payloads(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf) a parquet of captured ``GET /metrics``
    bodies from events: 16 target batches (``user_id % 16``), each an
    exposition-text document — ``# HELP`` / ``# TYPE`` headers plus one
    sample line per event with an adversarial constant label
    (backslash/quote/newline escapes) so the distributed unescape path
    runs on every line.  Values are shortest-round-trip float reprs
    (parse-exact).  Fixture generation is driver-side like
    `_events_remote_write_payloads`; the PARSE q113 measures is fully
    distributed and entirely JVM-side."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from tsdb_parquet_spark.scrape import escape_label_value

    tag = os.path.basename(sf_dir.rstrip("/"))
    work = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")
    final = os.path.join(work, f"scrape_{tag}.parquet")
    if os.path.exists(final):
        return final
    ev = _cat(spark, sf_dir)["events"]
    rows = (
        ev.select(
            (F.col("user_id") % 16).alias("batch"),
            F.col("event_type"),
            (F.col("user_id") % 8).cast("string").alias("shard"),
            F.expr("ts div 1000000").alias("ts_ms"),
            F.col("value"),
        )
        .toPandas()
        .sort_values(["batch", "event_type", "shard", "ts_ms", "value"],
                     kind="mergesort")
    )
    nasty = escape_label_value('scrape\\capture "r9"\nline2')
    targets, bodies = [], []
    for batch, g in rows.groupby("batch", sort=True):
        lines = [
            "# HELP app_events Synthetic event stream.",
            "# TYPE app_events gauge",
        ]
        lines += [
            f'app_events{{event_type="{r.event_type}",shard="{r.shard}",'
            f'src="{nasty}"}} {r.value!r} {r.ts_ms}'
            for r in g.itertuples()
        ]
        targets.append(int(batch))
        bodies.append("\n".join(lines) + "\n")
    table = pa.table(
        {
            "target": pa.array(targets, pa.int32()),
            "body": pa.array(bodies, pa.string()),
        }
    )
    os.makedirs(work, exist_ok=True)
    tmp = f"{final}.build-{os.getpid()}"
    papq.write_table(table, tmp)
    os.replace(tmp, final)
    return final


@query(
    "q113_scrape_text_parse",
    """
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
)
SELECT event_type,
       count(*) AS n_samples,
       round(sum(value), 2) AS sum_value,
       min(ts_ms) AS min_ts,
       max(ts_ms) AS max_ts,
       count(DISTINCT shard) AS n_series
FROM s GROUP BY event_type ORDER BY event_type""",
)
def q113(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrape-text ingest (`scrape.scrape_samples`): 16 captured
    exposition-format bodies — the format every exporter actually
    serves, which the reference cannot read at all — parse ENTIRELY
    JVM-side (split/regexp/from_json inside whole-stage codegen; the
    plan contains no Python operator, pinned by
    tests/test_scrape.py::test_exposition_samples_is_jvm_only) and the
    aggregate must hash-match DuckDB over the raw events.  Every line
    carries a backslash/quote/newline-escaped label, so the
    quote-aware pair lift and the JSON-decoder unescape run on every
    row, distributed.  Completes the ingest quad: blocks (q105-q107),
    WAL (q108-q110), remote-write (q111), scrape text (here)."""
    from tsdb_parquet_spark.scrape import scrape_samples

    path = _events_scrape_payloads(spark, sf_dir)
    # round-robin for one payload per task, scale-adaptive (see q111)
    payloads = spread(spark.read.parquet(path))
    samples = scrape_samples(
        payloads, ["__name__", "event_type", "shard"]
    )
    return (
        samples.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
            F.countDistinct("shard").alias("n_series"),
        )
        .orderBy("event_type")
    )


_TOMB_MIN = _QMINT  # tombstoned interval on block A: [Jan 8, Jan 10]
_TOMB_MAX = _QMINT + 2 * _DAY_MS


def _events_compacted_blocks(spark: SparkSession, sf_dir: str) -> list[str]:
    """Build (once per sf) the distributed-compaction fixture and run
    the compaction under test: block A = all events; block B = the
    ``user_id % 3 == 0`` subset at the SAME timestamps with value+1000
    (cross-block collisions A must win); block A carries a pending
    tombstone deleting the click/shard-0 series over
    ``[_TOMB_MIN, _TOMB_MAX]``.  `tsdb_block.compact_blocks` merges
    them into fresh day blocks — the OUTPUT q114 aggregates."""
    import pandas as pd

    from tsdb_parquet_spark.tsdb_block import (
        compact_blocks,
        read_index,
        write_block,
        write_tombstones,
    )
    from tsdb_parquet_spark.xorchunk import encode_xor_chunk

    tag = os.path.basename(sf_dir.rstrip("/"))
    work = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")
    final = os.path.join(work, f"compacted_blocks_{tag}")
    marker = os.path.join(final, "_PARTS.json")
    if os.path.exists(marker):
        with open(marker) as fh:
            return json.load(fh)
    import shutil

    build = f"{final}.build-{os.getpid()}"
    shutil.rmtree(build, ignore_errors=True)
    os.makedirs(build)
    ev = _cat(spark, sf_dir)["events"]
    rows = (
        ev.select(
            F.col("event_type"),
            (F.col("user_id") % 8).cast("string").alias("shard"),
            F.expr("ts div 1000000").alias("ts"),
            F.col("value"),
            (F.col("user_id") % 3 == 0).alias("in_b"),
        )
        .toPandas()
        .sort_values(["event_type", "shard", "ts", "value"],
                     kind="mergesort")
    )

    def build_block(df: pd.DataFrame, name: str, bump: float) -> str:
        series = []
        for (etype, shard), g in df.groupby(["event_type", "shard"],
                                            sort=True):
            chunks = []
            for _, cg in g.groupby(g["ts"] // _DAY_MS, sort=True):
                ts = cg["ts"].to_numpy()
                blob = encode_xor_chunk(
                    ts, cg["value"].to_numpy() + bump
                )
                chunks.append((int(ts[0]), int(ts[-1]), blob))
            series.append(
                ({"__name__": "app_events", "event_type": etype,
                  "shard": shard}, chunks)
            )
        d = os.path.join(build, name)
        write_block(d, series)
        return d

    block_a = build_block(rows, "block_a", 0.0)
    block_b = build_block(rows[rows["in_b"]], "block_b", 1000.0)
    # pending tombstone on block A: the click/shard-0 series over the
    # fixed window (series ref resolved from A's own index)
    ref = next(
        r
        for r, lbls, _ in read_index(block_a, with_refs=True)
        if lbls.get("event_type") == "click" and lbls.get("shard") == "0"
    )
    write_tombstones(block_a, {ref: [(_TOMB_MIN, _TOMB_MAX)]})
    out_parent = os.path.join(build, "out")
    blocks = compact_blocks(
        spark,
        [block_a, block_b],
        out_parent,
        ["__name__", "event_type", "shard"],
        block_span_ms=_DAY_MS,
    )
    parts = [d for _, d in blocks]
    with open(os.path.join(build, "_PARTS.json"), "w") as fh:
        json.dump([p.replace(build, final) for p in parts], fh)
    try:
        os.rename(build, final)
    except OSError:
        shutil.rmtree(build, ignore_errors=True)
    with open(marker) as fh:
        return json.load(fh)


@query(
    "q114_block_compaction",
    f"""
WITH a0 AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, min(value) AS v
  FROM events GROUP BY 1, 2, 3
),
b0 AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, min(value + 1000) AS v
  FROM events WHERE user_id % 3 = 0 GROUP BY 1, 2, 3
),
a1 AS (
  SELECT * FROM a0
  WHERE NOT (event_type = 'click' AND shard = '0'
             AND ts_ms BETWEEN {_TOMB_MIN} AND {_TOMB_MAX})
),
merged AS (
  SELECT coalesce(a1.event_type, b0.event_type) AS event_type,
         coalesce(a1.shard, b0.shard) AS shard,
         coalesce(a1.ts_ms, b0.ts_ms) AS ts_ms,
         coalesce(a1.v, b0.v) AS v
  FROM a1 FULL OUTER JOIN b0
    ON a1.event_type = b0.event_type AND a1.shard = b0.shard
   AND a1.ts_ms = b0.ts_ms
)
SELECT event_type,
       count(*) AS n_samples,
       round(sum(v), 2) AS sum_value,
       min(ts_ms) AS min_ts,
       max(ts_ms) AS max_ts,
       count(DISTINCT shard) AS n_series
FROM merged GROUP BY event_type ORDER BY event_type""",
)
def q114(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed block COMPACTION (`tsdb_block.compact_blocks` — the
    promtool-tsdb-compactor shape on a cluster, which the reference has
    no counterpart for): two OVERLAPPING real blocks — B duplicates a
    third of A's timestamps with conflicting values — plus a pending
    tombstone on A merge into fresh day blocks with tombstones APPLIED
    (deleted samples of A's click/shard-0 series fall back to B's
    values where B has the timestamp, vanish where it does not),
    collisions resolved first-write-wins by block order with a
    deterministic min-value tie-break, and everything re-chunked and
    re-exported.  The output block farm's decode must hash-match DuckDB
    computing the same merge relationally (dedup -> anti-interval ->
    full outer coalesce)."""
    from tsdb_parquet_spark.chunks import sample_structs, with_sample_arrays
    from tsdb_parquet_spark.tsdb_block import blocks_to_chunk_frame

    parts = _events_compacted_blocks(spark, sf_dir)
    frame = blocks_to_chunk_frame(
        spark, parts, ["__name__", "event_type", "shard"]
    )
    decoded = with_sample_arrays(frame).select(
        "event_type",
        "shard",
        F.explode(sample_structs()).alias("s"),
    )
    return (
        decoded.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.round(F.sum("s.value"), 2).alias("sum_value"),
            F.min("s.ts").alias("min_ts"),
            F.max("s.ts").alias("max_ts"),
            F.countDistinct("shard").alias("n_series"),
        )
        .orderBy("event_type")
    )


def _events_maintained_rollup_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf) the block-farm MAINTENANCE fixture and run
    the tick under test (`tsdb_block.maintain_block_farm`): the events
    chunk store exports as real day blocks (the raw farm), then one
    maintenance tick (a) rolls EVERY raw block into 6h recording-rule
    rollup blocks (one farm job, payloads executor-side) and (b)
    deletes raw blocks past a half-range retention horizon with the
    crash-safe two-phase rename.  Downsample-before-retention is the
    invariant q116 leans on: the rollup blocks cover ALL events even
    though the old raw blocks are gone — exactly the Thanos-compactor
    operational loop the reference has no counterpart for."""
    import shutil

    from tsdb_parquet_spark.tsdb_block import (
        discover_blocks,
        export_blocks,
        maintain_block_farm,
    )

    tag = os.path.basename(sf_dir.rstrip("/"))
    work = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")
    final = os.path.join(work, f"maintained_blocks_v2_{tag}")
    marker = os.path.join(final, "_DONE.json")
    if os.path.exists(marker):
        return os.path.join(final, "rollups")
    build = f"{final}.build-{os.getpid()}"
    shutil.rmtree(build, ignore_errors=True)
    raw = os.path.join(build, "raw")
    rollups = os.path.join(build, "rollups")
    store = events_chunk_store(spark, sf_dir)
    export_blocks(
        spark.read.parquet(store), raw, block_span_ms=_DAY_MS
    )
    metas = [
        json.load(open(os.path.join(d, "meta.json")))
        for d in discover_blocks(raw)
    ]
    now_ms = max(m["maxTime"] for m in metas)
    span = now_ms - min(m["minTime"] for m in metas)
    rep = maintain_block_farm(
        spark,
        raw,
        ["__name__", "event_type", "shard"],
        now_ms=now_ms,
        # half the farm's time range: old blocks age out, new ones stay
        retention_ms=max(span // 2, 1),
        downsample_step_ms=_DAY_MS // 4,
        downsample_dir=rollups,
        downsample_after_ms=0,  # every raw block rolls up FIRST
        # order-independent aggregates only: `last` ties on duplicate
        # (series, ts) raw samples and cannot be pinned against SQL
        downsample_aggs=("sum", "count", "min", "max"),
    )
    if len(metas) > 2 and not rep["retention"]["deleted"]:
        raise RuntimeError(
            "maintenance fixture: retention deleted nothing on a "
            f"{len(metas)}-block farm (horizon math broke?)"
        )
    with open(os.path.join(build, "_DONE.json"), "w") as fh:
        json.dump(
            {
                "downsampled": sorted(rep["downsampled"]),
                "deleted": rep["retention"]["deleted"],
                "raw_left": rep["retention"]["kept"],
            },
            fh,
        )
    try:
        os.rename(build, final)
    except OSError:
        shutil.rmtree(build, ignore_errors=True)
    return os.path.join(final, "rollups")


_Q116_STEP = _DAY_MS // 4  # 6h rollup resolution


@query(
    "q116_block_farm_maintenance",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
),
b AS (
  SELECT event_type, shard,
         ((ts_ms + {_Q116_STEP - 1}) // {_Q116_STEP}) * {_Q116_STEP} AS ts,
         sum(value) AS v_sum,
         CAST(count(*) AS DOUBLE) AS v_count,
         min(value) AS v_min,
         max(value) AS v_max
  FROM s GROUP BY 1, 2, 3
),
r AS (
  SELECT 'app_events:sum' AS m, event_type, shard, ts, v_sum AS v FROM b
  UNION ALL
  SELECT 'app_events:count', event_type, shard, ts, v_count FROM b
  UNION ALL
  SELECT 'app_events:min', event_type, shard, ts, v_min FROM b
  UNION ALL
  SELECT 'app_events:max', event_type, shard, ts, v_max FROM b
)
SELECT m AS metric, event_type,
       count(*) AS n_samples,
       round(sum(v), 2) AS sum_value,
       min(ts) AS min_ts,
       max(ts) AS max_ts,
       count(DISTINCT shard) AS n_series
FROM r GROUP BY 1, 2 ORDER BY 1, 2""",
)
def q116(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-farm maintenance loop (`tsdb_block.maintain_block_farm` —
    Thanos-compactor retention + downsampling, which the reference's
    one-shot converter has no counterpart for): the raw day-block farm
    rolls up into 6h recording-rule blocks (sum/count/min/max per
    series per bucket) in one farm job, then raw blocks past the
    retention horizon are deleted crash-safely.  The ROLLUP blocks —
    read back through the forward converter and decoded — must
    hash-match DuckDB computing the same right-closed 6h buckets over
    the raw events, proving the rollup covers everything even though
    half the raw farm is gone (downsample-before-retention)."""
    from tsdb_parquet_spark.chunks import sample_structs, with_sample_arrays
    from tsdb_parquet_spark.tsdb_block import (
        blocks_to_chunk_frame,
        discover_blocks,
    )

    rollup_dir = _events_maintained_rollup_dir(spark, sf_dir)
    frame = blocks_to_chunk_frame(
        spark,
        discover_blocks(rollup_dir),
        ["__name__", "event_type", "shard"],
    )
    decoded = with_sample_arrays(frame).select(
        F.col("__name__").alias("metric"),
        "event_type",
        "shard",
        F.explode(sample_structs()).alias("s"),
    )
    return (
        decoded.groupBy("metric", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.round(F.sum("s.value"), 2).alias("sum_value"),
            F.min("s.ts").alias("min_ts"),
            F.max("s.ts").alias("max_ts"),
            F.countDistinct("shard").alias("n_series"),
        )
        .orderBy("metric", "event_type")
    )


def _events_deleted_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf) the store-side DELETE fixture and run the
    delete pass under test (`sources.maintenance.delete_samples` — the
    Prometheus delete-series admin API / thanos bucket-rewrite analog,
    and the remedy `sync_wal`'s retro_stones report points at): a
    manifest-published store of all events (one sorted part + compact),
    then one surgical delete of the click/shard-0 series over
    ``[_TOMB_MIN, _TOMB_MAX]`` — the SAME series/interval q114's
    block-compaction tombstone uses, so the two deletion paths are
    checked against the same relational truth.  Partially-affected
    chunks re-encode with recomputed bounds; the rewrite touches only
    directories holding affected chunks."""
    import shutil

    from tsdb_parquet_spark.chunks import samples_to_chunks
    from tsdb_parquet_spark.operators.selection import EQ, Matcher
    from tsdb_parquet_spark.schema import sort_columns
    from tsdb_parquet_spark.sources.maintenance import delete_samples
    from tsdb_parquet_spark.sources.writer import (
        SortedParquetWriter,
        WriterOptions,
    )

    tag = os.path.basename(sf_dir.rstrip("/"))
    work = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")
    final = os.path.join(work, f"deleted_store_{tag}")
    marker = os.path.join(final, "_DONE")
    if os.path.exists(marker):
        return final
    build = f"{final}.build-{os.getpid()}"
    shutil.rmtree(build, ignore_errors=True)
    ev = _cat(spark, sf_dir)["events"]
    samples = ev.select(
        F.lit("app_events").alias("__name__"),
        F.col("event_type"),
        (F.col("user_id") % 8).cast("string").alias("shard"),
        F.expr("ts div 1000000").alias("ts"),
        F.col("value"),
    )
    opts = WriterOptions(
        sort_columns=sort_columns(_CHUNK_LABELS),
        bloom_columns=[c for c in _CHUNK_LABELS if c != "__name__"],
        max_files=16,
    )
    w = SortedParquetWriter(spark, build, opts)
    w.write(samples_to_chunks(samples, _CHUNK_LABELS))
    w.compact()
    rep = delete_samples(
        spark,
        build,
        [Matcher("event_type", EQ, "click"), Matcher("shard", EQ, "0")],
        mint=_TOMB_MIN,
        maxt=_TOMB_MAX,
        label_names=_CHUNK_LABELS,
    )
    if not rep["rewritten"] or rep["samples_deleted"] == 0:
        raise RuntimeError(f"delete fixture: nothing deleted ({rep})")
    with open(os.path.join(build, "_DONE"), "w") as fh:
        json.dump(rep["samples_deleted"], fh)
    try:
        os.rename(build, final)
    except OSError:
        shutil.rmtree(build, ignore_errors=True)
    return final


@query(
    "q117_store_delete_pass",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
),
kept AS (
  SELECT * FROM s
  WHERE NOT (event_type = 'click' AND shard = '0'
             AND ts_ms BETWEEN {_TOMB_MIN} AND {_TOMB_MAX})
)
SELECT event_type,
       count(*) AS n_samples,
       round(sum(value), 2) AS sum_value,
       min(ts_ms) AS min_ts,
       max(ts_ms) AS max_ts,
       count(DISTINCT shard) AS n_series
FROM kept GROUP BY event_type ORDER BY event_type""",
)
def q117(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store-side DELETE pass (`sources.maintenance.delete_samples`):
    surgical sample deletion from a manifest-published store — pushdown
    probe finds affected directories, partially-affected chunks decode
    / JVM higher-order filter / re-encode with recomputed bounds,
    emptied chunks vanish, and the store republishes as a new snapshot
    (pinned readers undisturbed).  The post-delete store must
    hash-match DuckDB anti-filtering the same closed interval from raw
    events.  Closes the retro-tombstone loop: `sync_wal` REPORTS stones
    that arrived after their samples shipped; `apply_retro_tombstones`
    resolves them through the series side table and runs THIS pass."""
    from tsdb_parquet_spark.chunks import sample_structs, with_sample_arrays
    from tsdb_parquet_spark.sources.writer import (
        live_store_dirs,
        read_roots,
    )

    root = _events_deleted_store(spark, sf_dir)
    df = read_roots(spark, live_store_dirs(root))
    decoded = with_sample_arrays(df).select(
        "event_type",
        "shard",
        F.explode(sample_structs()).alias("s"),
    )
    return (
        decoded.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.round(F.sum("s.value"), 2).alias("sum_value"),
            F.min("s.ts").alias("min_ts"),
            F.max("s.ts").alias("max_ts"),
            F.countDistinct("shard").alias("n_series"),
        )
        .orderBy("event_type")
    )


_NH_SCHEMA = 2  # native-histogram schema: base = 2^(1/4)
_NH_Q = 0.75
_NH_ZT = 0.001  # zero-bucket threshold: observations <= this land there
_NHS_SHIFT = 200.0  # app_nh_signed: value - shift -> mixed-sign observations
_NHS_Q = 0.25  # low quantile -> the rank lands in a NEGATIVE bucket


def _events_native_histogram_wal(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf) a WAL of NATIVE-histogram records from
    events: per (event_type, day) one sparse exponential histogram
    (schema 2) of that day's value distribution — bucket index
    ``ceil(log2(v) * 4)`` — logged as a record-type-7 entry at the
    day's end.  The fixture is driver-side like the other WAL builders;
    the DRAIN q118 measures (`tsdb_wal.wal_to_histogram_frame`) is one
    task per segment with classic expansion executor-side."""
    import shutil

    import numpy as np

    from tsdb_parquet_spark.histograms import NativeHistogram
    from tsdb_parquet_spark.tsdb_wal import WalWriter

    tag = os.path.basename(sf_dir.rstrip("/"))
    work = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")
    # v2: adds the app_nh_signed metric (negative observations ->
    # negative native buckets) alongside app_nh
    final = os.path.join(work, f"native_hist_wal_v2_{tag}")
    if os.path.exists(os.path.join(final, "_DONE")):
        return final
    build = f"{final}.build-{os.getpid()}"
    shutil.rmtree(build, ignore_errors=True)
    ev = _cat(spark, sf_dir)["events"]
    rows = (
        ev.select(
            F.col("event_type"),
            F.expr(f"(ts div 1000000) div {_DAY_MS}").alias("day"),
            F.col("value"),
        )
        .toPandas()
        .sort_values(["event_type", "day"], kind="mergesort")
    )
    etypes = sorted(rows["event_type"].unique())
    refs = {e: i + 1 for i, e in enumerate(etypes)}
    w = WalWriter(build, segment_bytes=1 << 18)
    w.log_series(
        [
            (refs[e], {"__name__": "app_nh", "event_type": e})
            for e in etypes
        ]
        + [
            (len(etypes) + refs[e],
             {"__name__": "app_nh_signed", "event_type": e})
            for e in etypes
        ]
    )

    def runs(uniq, counts):
        """Occupied bucket indexes -> (offset, length) span runs plus
        the per-bucket counts, the sparse native layout."""
        spans, buckets = [], []
        prev_end = 0
        run_start = None
        run_len = 0
        expected = None
        for i, u in enumerate(uniq):
            if run_start is None or u != expected:
                if run_start is not None:
                    spans.append((int(run_start - prev_end), run_len))
                    prev_end = run_start + run_len
                run_start, run_len = int(u), 0
            run_len += 1
            expected = u + 1
            buckets.append(float(counts[i]))
        if run_start is not None:
            spans.append((int(run_start - prev_end), run_len))
        return tuple(spans), tuple(buckets)

    entries = []
    for (e, day), g in rows.groupby(["event_type", "day"], sort=True):
        v_all = g["value"].to_numpy(dtype=np.float64)
        # the zero bucket holds |v| <= threshold — exactly the native
        # data model (and the only sound home for v == 0, whose log
        # bucket is undefined; the sf1 synthetic corpus contains zeros)
        zero_mask = v_all <= _NH_ZT
        v = v_all[~zero_mask]
        idx = np.ceil(np.log2(v) * (1 << _NH_SCHEMA)).astype(np.int64)
        spans, buckets = runs(*np.unique(idx, return_counts=True))
        h = NativeHistogram(
            schema=_NH_SCHEMA,
            count=float(len(v_all)),
            sum=float(v_all.sum()),
            zero_threshold=_NH_ZT if zero_mask.any() else 0.0,
            zero_count=float(zero_mask.sum()),
            positive_spans=spans,
            positive_buckets=buckets,
        )
        entries.append((refs[e], int((day + 1) * _DAY_MS), h))
        # app_nh_signed: the same day's values centered on _NHS_SHIFT,
        # so NEGATIVE native buckets (and the histogram_quantile
        # lowest-bucket le<=0 rule) are exercised end to end
        sv = v_all - _NHS_SHIFT
        zmask = np.abs(sv) <= _NH_ZT
        pos_v = sv[sv > _NH_ZT]
        neg_v = sv[sv < -_NH_ZT]
        pidx = np.ceil(
            np.log2(pos_v) * (1 << _NH_SCHEMA)
        ).astype(np.int64)
        nidx = np.ceil(
            np.log2(-neg_v) * (1 << _NH_SCHEMA)
        ).astype(np.int64)
        pspans, pbuckets = runs(*np.unique(pidx, return_counts=True))
        nspans, nbuckets = runs(*np.unique(nidx, return_counts=True))
        hs = NativeHistogram(
            schema=_NH_SCHEMA,
            count=float(len(sv)),
            sum=float(sv.sum()),
            zero_threshold=_NH_ZT if zmask.any() else 0.0,
            zero_count=float(zmask.sum()),
            positive_spans=pspans,
            positive_buckets=pbuckets,
            negative_spans=nspans,
            negative_buckets=nbuckets,
        )
        entries.append(
            (len(etypes) + refs[e], int((day + 1) * _DAY_MS), hs)
        )
    # one record per scrape wave (all series at one day-end together),
    # like a real head logs them
    by_ts: dict[int, list] = {}
    for ref, ts, h in entries:
        by_ts.setdefault(ts, []).append((ref, ts, h))
    for ts in sorted(by_ts):
        w.log_histograms(by_ts[ts])
    w.close()
    with open(os.path.join(build, "_DONE"), "w") as fh:
        fh.write("ok")
    try:
        os.rename(build, final)
    except OSError:
        shutil.rmtree(build, ignore_errors=True)
    return final


@query(
    "q118_native_histogram_quantile",
    f"""
WITH s AS (
  SELECT event_type, epoch_ms(ts) AS ts_ms, value FROM events
),
w AS (
  SELECT event_type,
         (ts_ms // {_DAY_MS} + 1) * {_DAY_MS} AS t,
         CASE WHEN value <= {_NH_ZT} THEN NULL
              ELSE CAST(ceil(log2(value) * {1 << _NH_SCHEMA}) AS BIGINT)
         END AS bi
  FROM s
),
counted AS (
  SELECT event_type, t, bi, CAST(count(*) AS DOUBLE) AS c
  FROM w GROUP BY 1, 2, 3
),
cum AS (
  SELECT event_type, t,
         CASE WHEN bi IS NULL THEN {_NH_ZT}
              ELSE power(2.0, bi / CAST({1 << _NH_SCHEMA} AS DOUBLE))
         END AS le_n,
         sum(c) OVER (
             PARTITION BY event_type, t
             ORDER BY CASE WHEN bi IS NULL THEN {_NH_ZT}
                  ELSE power(2.0, bi / CAST({1 << _NH_SCHEMA} AS DOUBLE))
             END) AS cnt,
         sum(c) OVER (PARTITION BY event_type, t) AS total
  FROM counted
),
wn AS (
  SELECT event_type, t, le_n, cnt, total,
         lag(cnt, 1, 0.0) OVER (
             PARTITION BY event_type, t ORDER BY le_n) AS prev_cnt,
         lag(le_n) OVER (
             PARTITION BY event_type, t ORDER BY le_n) AS prev_le
  FROM cum
),
sel AS (
  SELECT *, {_NH_Q} * total AS rnk FROM wn
  WHERE cnt >= {_NH_Q} * total
    AND (prev_cnt < {_NH_Q} * total OR prev_le IS NULL)
)
SELECT t, event_type,
       round(COALESCE(prev_le, 0.0)
             + (le_n - COALESCE(prev_le, 0.0))
               * ((rnk - prev_cnt) / (cnt - prev_cnt)), 4) AS value
FROM sel
WHERE t BETWEEN {_P_START} AND {_P_END}
ORDER BY t, event_type""",
)
def q118(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE histograms end-to-end — the data-model gap every earlier
    round documented as excluded, closed by reduction: per-(event_type,
    day) sparse exponential histograms (schema 2) live as WAL record
    type 7, drain one-task-per-segment (`wal_to_histogram_frame`),
    EXPAND to classic ``_bucket{{le=}}``/``_count``/``_sum`` series
    executor-side, and feed the untouched PromQL engine —
    ``histogram_quantile(0.75, app_nh_bucket)`` must hash-match DuckDB
    recomputing the same exponential buckets (``ceil(log2 v * 4)``) and
    the same classic interpolation from the raw events."""
    from tsdb_parquet_spark.plans.promql import PromQLEngine
    from tsdb_parquet_spark.tsdb_wal import wal_to_histogram_frame

    wal = _events_native_histogram_wal(spark, sf_dir)
    frame = wal_to_histogram_frame(spark, wal, ["__name__", "event_type"])
    engine = PromQLEngine(frame, extrapolate=False)
    out = engine.query_range(
        f"histogram_quantile({_NH_Q}, app_nh_bucket)",
        _P_START,
        _P_END,
        _DAY_MS,
        lookback_ms=6 * 3600 * 1000,
    )
    return out.select(
        "t", "event_type", F.round("value", 4).alias("value")
    ).orderBy("t", "event_type")


_NHF_LO = 8.0
_NHF_HI = 64.0


@query(
    "q119_native_histogram_fraction",
    f"""
WITH s AS (
  SELECT event_type, epoch_ms(ts) AS ts_ms, value FROM events
),
w AS (
  SELECT event_type,
         (ts_ms // {_DAY_MS} + 1) * {_DAY_MS} AS t,
         CASE WHEN value <= {_NH_ZT} THEN NULL
              ELSE CAST(ceil(log2(value) * {1 << _NH_SCHEMA}) AS BIGINT)
         END AS bi
  FROM s
),
counted AS (
  SELECT event_type, t, bi, CAST(count(*) AS DOUBLE) AS c
  FROM w GROUP BY 1, 2, 3
),
lb AS (
  SELECT event_type, t, c,
         CASE WHEN bi IS NULL THEN {_NH_ZT}
              ELSE power(2.0, bi / CAST({1 << _NH_SCHEMA} AS DOUBLE))
         END AS le_n
  FROM counted
),
cdf AS (
  SELECT event_type, t, c AS inc, le_n,
         COALESCE(lag(le_n) OVER (
             PARTITION BY event_type, t ORDER BY le_n), 0.0) AS start,
         sum(c) OVER (PARTITION BY event_type, t) AS total
  FROM lb
),
contrib AS (
  SELECT event_type, t, total,
         inc * greatest(0.0, least(1.0,
             ({_NHF_HI} - start) / (le_n - start))) AS up,
         inc * greatest(0.0, least(1.0,
             ({_NHF_LO} - start) / (le_n - start))) AS lo
  FROM cdf
)
SELECT t, event_type,
       round((sum(up) - sum(lo)) / max(total), 6) AS value
FROM contrib
WHERE t BETWEEN {_P_START} AND {_P_END}
GROUP BY 1, 2 ORDER BY 1, 2""",
)
def q119(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``histogram_fraction(8, 64, app_nh_bucket)`` — the
    native-histogram function family's flagship, previously on
    the documented-exclusion list, now served by the classic reduction:
    the piecewise-linear CDF over cumulative ``le`` buckets gives the
    estimated fraction of observations in [lower, upper] per (step,
    series), one window shuffle plus a grouped sum, all JVM.  Runs over
    the SAME native-histogram WAL fixture as q118 and must hash-match
    DuckDB computing the identical CDF from the raw events."""
    from tsdb_parquet_spark.plans.promql import PromQLEngine
    from tsdb_parquet_spark.tsdb_wal import wal_to_histogram_frame

    wal = _events_native_histogram_wal(spark, sf_dir)
    frame = wal_to_histogram_frame(spark, wal, ["__name__", "event_type"])
    engine = PromQLEngine(frame, extrapolate=False)
    out = engine.query_range(
        f"histogram_fraction({_NHF_LO}, {_NHF_HI}, app_nh_bucket)",
        _P_START,
        _P_END,
        _DAY_MS,
        lookback_ms=6 * 3600 * 1000,
    )
    return out.select(
        "t", "event_type", F.round("value", 6).alias("value")
    ).orderBy("t", "event_type")


_EX_THRESHOLD = 200.0  # events above this log a trace exemplar


def _events_exemplar_wal(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf) a WAL carrying EXEMPLAR (record type 5) and
    METADATA (record type 6) entries for per-event_type series: every
    event with ``value >= _EX_THRESHOLD`` logs a trace exemplar whose
    ``trace_id`` derives from the event's unique id, and metric
    metadata is logged in TWO generations (all-gauge first, then a
    counter re-type for names sorting before ``p``) so replay
    precedence — later record wins — is part of the fixture.  Build is
    driver-side like the other WAL fixtures; the drains q120/q121
    measure run one task per segment."""
    import shutil

    from tsdb_parquet_spark.tsdb_wal import WalWriter

    tag = os.path.basename(sf_dir.rstrip("/"))
    work = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")
    final = os.path.join(work, f"exemplar_wal_{tag}")
    if os.path.exists(os.path.join(final, "_DONE")):
        return final
    build = f"{final}.build-{os.getpid()}"
    shutil.rmtree(build, ignore_errors=True)
    ev = _cat(spark, sf_dir)["events"]
    rows = (
        ev.select(
            "event_id",
            "event_type",
            F.expr("ts div 1000000").alias("ts"),
            "value",
        )
        .filter(F.col("value") >= _EX_THRESHOLD)
        .toPandas()
        .sort_values(["ts", "event_id"], kind="mergesort")
    )
    etypes = sorted(
        r["event_type"]
        for r in ev.select("event_type").distinct().collect()
    )
    refs = {e: i + 1 for i, e in enumerate(etypes)}
    w = WalWriter(build, segment_bytes=64 * 1024)
    w.log_series(
        [
            (refs[e], {"__name__": "app_events", "event_type": e})
            for e in etypes
        ]
    )
    w.log_metadata(
        [
            (refs[e], "gauge", "", f"synthetic {e} stream")
            for e in etypes
        ]
    )
    batch: list[tuple] = []
    for event_id, e, ts, v in zip(
        rows["event_id"], rows["event_type"], rows["ts"], rows["value"]
    ):
        batch.append(
            (refs[e], int(ts), float(v), {"trace_id": f"t{int(event_id)}"})
        )
        if len(batch) >= 500:
            w.log_exemplars(batch)
            batch = []
    if batch:
        w.log_exemplars(batch)
    # second metadata generation — replay order must let it win
    w.log_metadata(
        [
            (refs[e], "counter", "events", f"synthetic {e} stream v2")
            for e in etypes
            if e < "p"
        ]
    )
    w.close()
    with open(os.path.join(build, "_DONE"), "w") as fh:
        fh.write("ok")
    try:
        os.rename(build, final)
    except OSError:
        shutil.rmtree(build, ignore_errors=True)
    return final


@query(
    "q120_wal_exemplars",
    f"""
SELECT event_type, epoch_ms(ts) AS ts, value,
       't' || CAST(event_id AS VARCHAR) AS trace_id
FROM events
WHERE value >= {_EX_THRESHOLD}
ORDER BY event_type, ts, trace_id""",
)
def q120(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAL EXEMPLAR drain (`tsdb_wal.wal_to_exemplars_frame`, record
    type 5 — prometheus/tsdb/record exemplar layout): trace-id
    exemplars decode one task per segment and join to their series via
    the same broadcast ref->labels pass as the sample drain.  Every
    over-threshold event's exemplar must come back with its exact
    timestamp, value, and trace label — hash-matched vs DuckDB
    re-deriving the exemplar set from raw events."""
    from tsdb_parquet_spark.tsdb_wal import wal_to_exemplars_frame

    wal = _events_exemplar_wal(spark, sf_dir)
    ex = wal_to_exemplars_frame(spark, wal, ["__name__", "event_type"])
    return ex.select(
        "event_type",
        "ts",
        "value",
        F.element_at("exemplar_labels", "trace_id").alias("trace_id"),
    ).orderBy("event_type", "ts", "trace_id")


@query(
    "q121_wal_metric_metadata",
    """
SELECT DISTINCT event_type,
       CASE WHEN event_type < 'p' THEN 'counter' ELSE 'gauge'
       END AS mtype,
       CASE WHEN event_type < 'p' THEN 'events' ELSE '' END AS unit,
       CASE WHEN event_type < 'p'
            THEN 'synthetic ' || event_type || ' stream v2'
            ELSE 'synthetic ' || event_type || ' stream'
       END AS help
FROM events
ORDER BY event_type""",
)
def q121(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric METADATA records (type 6) end-to-end
    (`tsdb_wal.wal_metadata_frame`): replay-ordered decode — the
    second-generation re-type must WIN over the first for the names it
    re-logs — joined to series labels.  Hash-matched vs DuckDB
    recomputing the expected (type, unit, help) per metric family."""
    from tsdb_parquet_spark.tsdb_wal import wal_metadata_frame

    wal = _events_exemplar_wal(spark, sf_dir)
    meta = wal_metadata_frame(spark, wal, ["__name__", "event_type"])
    return meta.select(
        "event_type",
        F.col("type").alias("mtype"),
        "unit",
        "help",
    ).orderBy("event_type")


def _native_histogram_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf) the sorted chunk STORE holding the classic
    expansion of the native-histogram WAL — ``le`` as a real label
    column — so the full store lifecycle (drain -> chunk encode ->
    sorted parquet -> ChunkQuerier decode) sits between the wire format
    and PromQL."""
    import shutil

    from tsdb_parquet_spark.chunks import samples_to_chunks
    from tsdb_parquet_spark.schema import sort_columns
    from tsdb_parquet_spark.sources.writer import (
        WriterOptions,
        write_sorted,
    )
    from tsdb_parquet_spark.tsdb_wal import wal_to_histogram_frame

    tag = os.path.basename(sf_dir.rstrip("/"))
    work = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")
    final = os.path.join(work, f"native_hist_store_{tag}")
    if os.path.exists(os.path.join(final, "_SUCCESS")):
        return final
    wal = _events_native_histogram_wal(spark, sf_dir)
    frame = wal_to_histogram_frame(spark, wal, ["__name__", "event_type"])
    labels = ["__name__", "event_type", "le"]
    chunks = samples_to_chunks(frame, labels, chunk_span_ms=7 * _DAY_MS)
    opts = WriterOptions(
        sort_columns=sort_columns(labels),
        bloom_columns=["event_type", "le"],
        max_files=8,
    )
    build = f"{final}.build-{os.getpid()}"
    shutil.rmtree(build, ignore_errors=True)
    write_sorted(chunks, build, opts)
    try:
        os.rename(build, final)
    except OSError:
        shutil.rmtree(build, ignore_errors=True)
    return final


@query(
    "q122_native_histogram_store_roundtrip",
    f"""
WITH s AS (
  SELECT event_type, epoch_ms(ts) AS ts_ms,
         value - {_NHS_SHIFT} AS v
  FROM events
),
w AS (
  SELECT event_type,
         (ts_ms // {_DAY_MS} + 1) * {_DAY_MS} AS t,
         CASE WHEN abs(v) <= {_NH_ZT} THEN {_NH_ZT}
              WHEN v > {_NH_ZT}
              THEN power(2.0, CAST(ceil(log2(v) * {1 << _NH_SCHEMA})
                   AS BIGINT) / CAST({1 << _NH_SCHEMA} AS DOUBLE))
              ELSE -power(2.0, (CAST(ceil(log2(-v) * {1 << _NH_SCHEMA})
                   AS BIGINT) - 1) / CAST({1 << _NH_SCHEMA} AS DOUBLE))
         END AS le_n
  FROM s
),
counted AS (
  SELECT event_type, t, le_n, CAST(count(*) AS DOUBLE) AS c
  FROM w GROUP BY 1, 2, 3
),
cum AS (
  SELECT event_type, t, le_n,
         sum(c) OVER (
             PARTITION BY event_type, t ORDER BY le_n) AS cnt,
         sum(c) OVER (PARTITION BY event_type, t) AS total
  FROM counted
),
wn AS (
  SELECT event_type, t, le_n, cnt, total,
         lag(cnt, 1, 0.0) OVER (
             PARTITION BY event_type, t ORDER BY le_n) AS prev_cnt,
         lag(le_n) OVER (
             PARTITION BY event_type, t ORDER BY le_n) AS prev_le
  FROM cum
),
sel AS (
  SELECT *, {_NHS_Q} * total AS rnk FROM wn
  WHERE cnt >= {_NHS_Q} * total
    AND (prev_cnt < {_NHS_Q} * total OR prev_le IS NULL)
)
SELECT t, event_type,
       round(CASE WHEN prev_le IS NULL AND le_n <= 0 THEN le_n
             ELSE COALESCE(prev_le, 0.0)
                  + (le_n - COALESCE(prev_le, 0.0))
                    * ((rnk - prev_cnt) / (cnt - prev_cnt))
             END, 4) AS value
FROM sel
WHERE t BETWEEN {_P_START} AND {_P_END}
ORDER BY t, event_type""",
)
def q122(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native histograms through the FULL store lifecycle — WAL drain
    -> classic expansion -> chunk encode -> sorted store (``le`` a real
    label column) -> ChunkQuerier decode -> PromQL — on the SIGNED
    metric, so negative native buckets and bucketQuantile's
    ``le <= 0`` lowest-bucket rule (promql/quantile.go) are exercised
    end to end: ``histogram_quantile(0.25, app_nh_signed_bucket)``
    must hash-match DuckDB recomputing the mixed-sign exponential
    buckets and the full Prometheus interpolation rule from raw
    events."""
    from tsdb_parquet_spark.plans.promql import PromQLEngine
    from tsdb_parquet_spark.querier import ChunkQuerier

    store = _native_histogram_store(spark, sf_dir)
    frame = ChunkQuerier.from_parquet(spark, store).select_samples(
        labels=["__name__", "event_type", "le"]
    )
    engine = PromQLEngine(frame, extrapolate=False)
    out = engine.query_range(
        f"histogram_quantile({_NHS_Q}, app_nh_signed_bucket)",
        _P_START,
        _P_END,
        _DAY_MS,
        lookback_ms=6 * 3600 * 1000,
    )
    return out.select(
        "t", "event_type", F.round("value", 4).alias("value")
    ).orderBy("t", "event_type")


_EXQ_END = _P_START + 14 * _DAY_MS  # exemplar-query window: first 2 weeks


def _events_exemplar_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf) the day-partitioned sorted EXEMPLAR store
    from the exemplar WAL: the scale layout (hive ``__day`` directories
    + label-led sort + blooms), so q123's selector+range query prunes
    directories AND row groups."""
    import shutil

    from tsdb_parquet_spark.sources.exemplars import write_exemplar_store
    from tsdb_parquet_spark.tsdb_wal import wal_to_exemplars_frame

    tag = os.path.basename(sf_dir.rstrip("/"))
    work = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")
    final = os.path.join(work, f"exemplar_store_{tag}")
    if os.path.exists(os.path.join(final, "_SUCCESS")):
        return final
    wal = _events_exemplar_wal(spark, sf_dir)
    frame = wal_to_exemplars_frame(spark, wal, ["__name__", "event_type"])
    build = f"{final}.build-{os.getpid()}"
    shutil.rmtree(build, ignore_errors=True)
    write_exemplar_store(
        frame, build, ["__name__", "event_type"], partition_by_day=True
    )
    try:
        os.rename(build, final)
    except OSError:
        shutil.rmtree(build, ignore_errors=True)
    return final


@query(
    "q123_exemplar_store_query",
    f"""
SELECT event_type, epoch_ms(ts) AS ts, value,
       't' || CAST(event_id AS VARCHAR) AS trace_id
FROM events
WHERE value >= {_EX_THRESHOLD}
  AND event_type = 'click'
  AND epoch_ms(ts) BETWEEN {_P_START} AND {_EXQ_END}
ORDER BY ts, trace_id""",
)
def q123(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus ``/api/v1/query_exemplars`` semantics over a
    first-class exemplar STORE (`sources/exemplars.py`): the WAL
    exemplar drain lands as day-partitioned sorted parquet (label-led
    sort, blooms, hive ``__day`` dirs), and `select_exemplars` compiles
    (selector, mint, maxt) to a fully pushed-down scan — equality
    matcher and both ``ts`` bounds in PushedFilters, the derived day
    bounds in PartitionFilters (pinned by tests/test_plans.py).
    Hash-matched vs DuckDB filtering the same exemplar set from raw
    events."""
    from tsdb_parquet_spark.operators.selection import EQ, Matcher
    from tsdb_parquet_spark.sources.exemplars import select_exemplars

    store = _events_exemplar_store(spark, sf_dir)
    ex = select_exemplars(
        spark,
        store,
        [Matcher("event_type", EQ, "click")],
        mint=_P_START,
        maxt=_EXQ_END,
    )
    return ex.select(
        "event_type",
        "ts",
        "value",
        F.element_at("exemplar_labels", "trace_id").alias("trace_id"),
    ).orderBy("ts", "trace_id")


#: gauge datapoints per captured OTLP body — keeps each body at the ~MiB
#: scale real exporters batch at, so sf growth adds bodies (tasks), not
#: per-body serial decode work
_OTLP_MAX_POINTS = 2000


def _events_otlp_payloads(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf) captured OTLP POST bodies from events: one
    ``ExportMetricsServiceRequest`` per day carrying (a) a GAUGE
    ``app.events.value`` with one datapoint per event (``event.type``
    attribute) and (b) a monotonic CUMULATIVE SUM ``app.events`` with
    one day-end datapoint per event_type holding the running count —
    so both the per-point translation and the ``_total``-suffix rule
    are part of the hash.  v3 adds (c) a DELTA-temporality monotonic
    SUM ``app.events.delta`` carrying each day's per-event_type count
    as an increment — the Prometheus 3.x experimental
    delta->cumulative conversion (`otlp.otlp_frame(delta="convert")`)
    must running-sum it into ``app_events_delta_total`` — and (d) a
    DELTA-temporality HISTOGRAM that must stay skipped either way.
    Resource carries ``service.name=app``
    (→ ``job``).  Driver-side build like the remote-write capture; the
    decode q124 measures is one ``mapInPandas`` task per payload.

    Bodies are BOUNDED (≤ ``_OTLP_MAX_POINTS`` gauge points each, like
    real exporters' ~MiB batch limits): growing the data grows the BODY
    COUNT, not the per-body byte size, so the decode stays
    task-parallel at every sf — the v1 one-body-per-day shape made the
    sf1 probe measure serial in-body decode (r11 finding #3)."""
    from tsdb_parquet_spark.otlp import encode_export_request

    tag = os.path.basename(sf_dir.rstrip("/"))
    work = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")
    final = os.path.join(work, f"otlp_payloads_v3_{tag}")
    # the v2 fixture (pre-delta-arms) is dead weight once v3 is wanted
    _shutil.rmtree(
        os.path.join(work, f"otlp_payloads_v2_{tag}"), ignore_errors=True
    )
    if os.path.exists(os.path.join(final, "_SUCCESS")):
        return final
    ev = _cat(spark, sf_dir)["events"]
    rows = (
        ev.select(
            "event_type",
            F.expr("ts div 1000000").alias("ts"),
            "value",
        )
        .toPandas()
        .sort_values(["ts", "event_type", "value"], kind="mergesort")
    )
    rows["day"] = rows["ts"] // _DAY_MS
    running: dict[str, int] = {}
    payloads = []
    for day, g in rows.groupby("day", sort=True):
        gauge_points = [
            ({"event.type": e}, int(ts), float(v))
            for e, ts, v in zip(g["event_type"], g["ts"], g["value"])
        ]
        day_end = int((day + 1) * _DAY_MS)
        sum_points = []
        for e, n in g.groupby("event_type", sort=True).size().items():
            running[e] = running.get(e, 0) + int(n)
            sum_points.append(({"event.type": e}, day_end,
                               float(running[e])))
        # the day's sum datapoints ride the first body; gauge points
        # split across as many bounded bodies as the day needs
        chunks = [
            gauge_points[i : i + _OTLP_MAX_POINTS]
            for i in range(0, len(gauge_points), _OTLP_MAX_POINTS)
        ] or [[]]
        delta_points = [
            ({"event.type": e}, day_end, float(n))
            for e, n in g.groupby("event_type", sort=True).size().items()
        ]
        for i, chunk in enumerate(chunks):
            metrics = [
                {"name": "app.events.value", "kind": "gauge",
                 "points": chunk},
            ]
            if i == 0:
                metrics.append(
                    {"name": "app.events", "kind": "sum",
                     "monotonic": True, "points": sum_points}
                )
                # the delta arm: per-day increments the convert mode
                # must running-sum into app_events_delta_total
                metrics.append(
                    {"name": "app.events.delta", "kind": "sum",
                     "monotonic": True, "temporality": "delta",
                     "points": delta_points}
                )
                # a DELTA histogram: must be skipped by BOTH modes
                # (same per-day counts as the delta sum's increments)
                metrics.append(
                    {"name": "app.events.hist", "kind": "histogram",
                     "temporality": "delta",
                     "points": [(attrs, ts, int(n), float(n),
                                 [100.0], [int(n), 0])
                                for attrs, ts, n in delta_points]}
                )
            body = encode_export_request([({"service.name": "app"},
                                           metrics)])
            payloads.append((bytearray(body),))
    df = spark.createDataFrame(payloads, "payload binary")
    with _staged_publish(final, marker="_SUCCESS") as build:
        df.repartition(max(1, min(len(payloads), 32))).write.mode(
            "overwrite"
        ).parquet(build)
    return final


@query(
    "q124_otlp_ingest",
    f"""
WITH s AS (
  SELECT event_type, epoch_ms(ts) AS ts_ms, value FROM events
),
g AS (
  SELECT 'app_events_value' AS metric, event_type, ts_ms AS ts, value
  FROM s
),
d AS (
  SELECT event_type, (ts_ms // {_DAY_MS} + 1) * {_DAY_MS} AS t,
         count(*) AS n
  FROM s GROUP BY 1, 2
),
c AS (
  SELECT 'app_events_total' AS metric, event_type, t AS ts,
         CAST(sum(n) OVER (
             PARTITION BY event_type ORDER BY t) AS DOUBLE) AS value
  FROM d
),
dc AS (
  SELECT 'app_events_delta_total' AS metric, event_type, t AS ts,
         CAST(sum(n) OVER (
             PARTITION BY event_type ORDER BY t) AS DOUBLE) AS value
  FROM d
)
SELECT * FROM g
UNION ALL
SELECT * FROM c
UNION ALL
SELECT * FROM dc
ORDER BY metric, event_type, ts, value""",
)
def q124(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTLP metrics ingest (`otlp.py`) — the OpenTelemetry push
    protocol decoded straight from the public proto spec, executor-side
    (one ``mapInPandas`` task per captured POST body, payload bytes
    never on the driver).  The translation must be Prometheus-exact:
    dotted names/attributes normalize to underscores, the resource's
    ``service.name`` becomes ``job``, and the monotonic cumulative sum
    gains ``_total`` — hash-matched vs DuckDB recomputing both metrics
    (every gauge point; per-day running counts) from raw events.
    r14 adds the DELTA arms: ``delta="convert"`` running-sums the
    delta sum's per-day increments into ``app_events_delta_total``
    (one window over the delta subset only — the oracle recomputes the
    same running sum), while the DELTA histogram riding the same
    payloads must stay skipped (any leaked ``app_events_hist_*`` row
    would break the hash)."""
    from tsdb_parquet_spark.otlp import otlp_frame

    # one payload per decode task, scale-adaptive (see q111)
    payloads = spread(
        spark.read.parquet(_events_otlp_payloads(spark, sf_dir))
    )
    out = otlp_frame(
        payloads,
        ["__name__", "event_type", "job"],
        delta="convert",
        # bounded captured batch: decode each payload once instead of
        # once per delta-split subtree (see otlp_frame docstring)
        pin_decoded=True,
    )
    return (
        out.filter(F.col("job") == "app")
        .select(
            F.col("__name__").alias("metric"),
            "event_type",
            "ts",
            "value",
        )
        .orderBy("metric", "event_type", "ts", "value")
    )


def _events_otlp_hist_payloads(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf) captured OTLP bodies carrying the NON-scalar
    point kinds over the events table, one datapoint per (day,
    event_type) at day-end: a classic HISTOGRAM of the day's values
    (fixed explicit bounds), an EXPONENTIAL histogram at scale 0 (one
    base-2 bucket per occupied power-of-two range, zero bucket for
    v <= 0), and a SUMMARY whose quantile values are the day's min/max
    (q0/q1 — engine-independent, so DuckDB can recompute them exactly).
    Bodies are bounded the same way as `_events_otlp_payloads` (one per
    day here — 3 points/day can't grow with sf)."""
    import math

    from tsdb_parquet_spark.histograms import NativeHistogram
    from tsdb_parquet_spark.otlp import encode_export_request

    tag = os.path.basename(sf_dir.rstrip("/"))
    work = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")
    final = os.path.join(work, f"otlp_hist_payloads_{tag}")
    if os.path.exists(os.path.join(final, "_SUCCESS")):
        return final
    ev = _cat(spark, sf_dir)["events"]
    rows = (
        ev.select(
            "event_type",
            F.expr("ts div 1000000").alias("ts"),
            "value",
        )
        .toPandas()
        .sort_values(["ts", "event_type", "value"], kind="mergesort")
    )
    rows["day"] = rows["ts"] // _DAY_MS

    def exp_native(values) -> NativeHistogram:
        # same convention the decode path lands on: positive bucket i
        # covers (2**(i-1), 2**i]; v <= 0 goes to the zero bucket.  The
        # index is found WITHOUT log2 (min k with v <= 2**k) so the
        # DuckDB oracle can reproduce it bit-exactly with power(2, k).
        idx_counts: dict[int, int] = {}
        zero = 0
        for v in values:
            if v <= 0:
                zero += 1
                continue
            k = _OTLP_EXP_KMIN
            while 2.0**k < v:
                k += 1
            idx_counts[k] = idx_counts.get(k, 0) + 1
        # span runs over the sorted occupied indexes (offsets relative
        # to the previous run's end, the NativeHistogram convention)
        spans = []
        idxs = sorted(idx_counts)
        i = 0
        prev_end = 0
        while i < len(idxs):
            j = i
            while j + 1 < len(idxs) and idxs[j + 1] == idxs[j] + 1:
                j += 1
            spans.append((idxs[i] - prev_end, j - i + 1))
            prev_end = idxs[j] + 1
            i = j + 1
        buckets = [float(idx_counts[k]) for k in idxs]
        return NativeHistogram(
            schema=0,
            count=float(len(values)),
            sum=float(math.fsum(values)),
            zero_threshold=0.0,
            zero_count=float(zero),
            positive_spans=tuple(spans),
            positive_buckets=tuple(buckets),
        )

    payloads = []
    for day, g in rows.groupby("day", sort=True):
        day_end = int((day + 1) * _DAY_MS)
        hist_points, exp_points, summ_points = [], [], []
        for e, ge in g.groupby("event_type", sort=True):
            vals = [float(v) for v in ge["value"]]
            counts = [0] * (len(_OTLP_HIST_BOUNDS) + 1)
            for v in vals:
                for i, ub in enumerate(_OTLP_HIST_BOUNDS):
                    if v <= ub:
                        counts[i] += 1
                        break
                else:
                    counts[-1] += 1
            total = float(math.fsum(vals))
            hist_points.append(
                ({"event.type": e}, day_end, len(vals), total,
                 list(_OTLP_HIST_BOUNDS), counts)
            )
            exp_points.append(({"event.type": e}, day_end,
                               exp_native(vals)))
            summ_points.append(
                ({"event.type": e}, day_end, len(vals), total,
                 [(0.0, min(vals)), (1.0, max(vals))])
            )
        body = encode_export_request([
            ({"service.name": "app"},
             [
                 {"name": "evt.val.hist", "kind": "histogram",
                  "points": hist_points},
                 {"name": "evt.val.exp",
                  "kind": "exponential_histogram", "points": exp_points},
                 {"name": "evt.val.q", "kind": "summary",
                  "points": summ_points},
             ]),
        ])
        payloads.append((bytearray(body),))
    df = spark.createDataFrame(payloads, "payload binary")
    with _staged_publish(final, marker="_SUCCESS") as build:
        df.repartition(max(1, min(len(payloads), 32))).write.mode(
            "overwrite"
        ).parquet(build)
    return final


_OTLP_HIST_BOUNDS = (10.0, 50.0, 100.0, 200.0)
_OTLP_EXP_KMIN = -9  # smallest base-2 bucket probed (2**-9 < any v > 0)


@query(
    "q125_otlp_histogram_ingest",
    f"""
WITH s AS (
  SELECT event_type, epoch_ms(ts) AS ts_ms, value FROM events
),
d AS (
  SELECT event_type, (ts_ms // {_DAY_MS} + 1) * {_DAY_MS} AS t, value
  FROM s
),
-- classic histogram: cumulative counts per explicit bound + +Inf
edges(le_num, le) AS (VALUES (10.0, '10'), (50.0, '50'),
                             (100.0, '100'), (200.0, '200')),
hb AS (
  SELECT 'evt_val_hist_bucket' AS metric, d.event_type, d.t,
         e.le AS le,
         CAST(count(*) FILTER (WHERE d.value <= e.le_num) AS DOUBLE)
             AS value
  FROM d CROSS JOIN edges e GROUP BY 1, 2, 3, 4
),
hinf AS (
  SELECT 'evt_val_hist_bucket' AS metric, event_type, t,
         '+Inf' AS le, CAST(count(*) AS DOUBLE) AS value
  FROM d GROUP BY 1, 2, 3
),
hcs AS (
  SELECT event_type, t, CAST(count(*) AS DOUBLE) AS n,
         round(sum(value), 2) AS sv,
         round(min(value), 2) AS mn, round(max(value), 2) AS mx
  FROM d GROUP BY 1, 2
),
-- exponential histogram at scale 0 (Go-'g' le strings, exact for
-- powers of two): v <= 0 in the zero bucket (le '0', k sentinel -999),
-- else the smallest k in [{_OTLP_EXP_KMIN}, 10] with v <= 2**k
exple(k, le) AS (VALUES
  (-999, '0'), (-9, '0.001953125'), (-8, '0.00390625'),
  (-7, '0.0078125'), (-6, '0.015625'), (-5, '0.03125'), (-4, '0.0625'),
  (-3, '0.125'), (-2, '0.25'), (-1, '0.5'), (0, '1'), (1, '2'),
  (2, '4'), (3, '8'), (4, '16'), (5, '32'), (6, '64'), (7, '128'),
  (8, '256'), (9, '512'), (10, '1024')),
ek AS (
  SELECT event_type, t,
         CASE WHEN value <= 0 THEN -999
              ELSE (SELECT min(k)
                    FROM range({_OTLP_EXP_KMIN}, 11) tk(k)
                    WHERE value <= power(2.0, k)) END AS k
  FROM d
),
eb AS (
  SELECT 'evt_val_exp_bucket' AS metric, ek.event_type, ek.t,
         exple.le AS le,
         CAST(sum(count(*)) OVER (
             PARTITION BY ek.event_type, ek.t ORDER BY ek.k
         ) AS DOUBLE) AS value
  FROM ek JOIN exple USING (k)
  GROUP BY ek.event_type, ek.t, ek.k, exple.le
),
einf AS (
  SELECT 'evt_val_exp_bucket' AS metric, event_type, t,
         '+Inf' AS le, CAST(count(*) AS DOUBLE) AS value
  FROM d GROUP BY 1, 2, 3
),
u AS (
  SELECT * FROM hb
  UNION ALL SELECT * FROM hinf
  UNION ALL SELECT * FROM eb
  UNION ALL SELECT * FROM einf
  UNION ALL SELECT 'evt_val_hist_count', event_type, t, '', n FROM hcs
  UNION ALL SELECT 'evt_val_hist_sum', event_type, t, '', sv FROM hcs
  UNION ALL SELECT 'evt_val_exp_count', event_type, t, '', n FROM hcs
  UNION ALL SELECT 'evt_val_exp_sum', event_type, t, '', sv FROM hcs
  UNION ALL SELECT 'evt_val_q_count', event_type, t, '', n FROM hcs
  UNION ALL SELECT 'evt_val_q_sum', event_type, t, '', sv FROM hcs
  UNION ALL SELECT 'evt_val_q', event_type, t, '0', mn FROM hcs
  UNION ALL SELECT 'evt_val_q', event_type, t, '1', mx FROM hcs
)
SELECT metric, event_type, t AS ts, le, value
FROM u ORDER BY metric, event_type, ts, le""",
)
def q125(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTLP NON-scalar ingest (`otlp.py` histogram / exponential /
    summary arms) hash-checked end-to-end: classic histograms expand to
    cumulative ``_bucket``/``_count``/``_sum`` series, exponential
    points ride `_exp_point_to_native` + `expand_to_classic` (base-2
    ``le`` edges, zero bucket for v <= 0), and summaries translate to
    quantile-labeled series — all against DuckDB recomputing every
    bucket census from raw events.  The ``le``/``quantile`` label is
    re-numericized on both sides so the hash is engine-format-proof."""
    from tsdb_parquet_spark.otlp import otlp_frame

    payloads = spread(
        spark.read.parquet(_events_otlp_hist_payloads(spark, sf_dir))
    )
    out = otlp_frame(
        payloads, ["__name__", "event_type", "job", "le", "quantile"]
    )
    le_out = (
        F.when(F.col("le") != "", F.col("le"))
        .when(F.col("quantile") != "", F.col("quantile"))
        .otherwise(F.lit(""))
    )
    return (
        out.filter(F.col("job") == "app")
        .select(
            F.col("__name__").alias("metric"),
            "event_type",
            "ts",
            le_out.alias("le"),
            F.round("value", 2).alias("value"),
        )
        .orderBy("metric", "event_type", "ts", "le")
    )


@query(
    "q126_query_api_roundtrip",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
),
steps AS (SELECT t FROM range({_P_START}, {_P_END + 1}, {_P_STEP}) r(t)),
last AS (
  SELECT st.t, s.event_type, s.shard, arg_max(s.value, s.ts_ms) AS v
  FROM steps st
  JOIN s ON s.ts_ms > st.t - {_P_LOOKBACK} AND s.ts_ms <= st.t
  GROUP BY 1, 2, 3
)
SELECT t, event_type, round(sum(v), 2) AS value
FROM last GROUP BY 1, 2 ORDER BY 1, 2""",
)
def q126(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus HTTP query API round-trip (`api.py`): the q20 range
    query evaluated through ``GET /api/v1/query_range`` over a real
    loopback socket — engine -> matrix JSON (Go-'f' value strings,
    seconds timestamps) -> client reparse — must hash-match the SAME
    DuckDB oracle the direct-engine row uses, proving the wire encoding
    round-trips the engine's integer-ms/double results bit-exactly.
    The reference delegates this surface to an embedded Prometheus
    (`prometheus/querier.go:80-88`); here it IS the engine's API."""
    from tsdb_parquet_spark.api import PromApiServer, api_query_range_rows

    engine = _promql_samples(spark, sf_dir)
    with PromApiServer(engine, lookback_ms=_P_LOOKBACK) as url:
        rows = api_query_range_rows(
            url,
            "sum by (event_type) (app_events)",
            _P_START,
            _P_END,
            _P_STEP,
        )
    data = [
        (t, labels["event_type"], round(value, 2))
        for t, labels, value in rows
    ]
    return spark.createDataFrame(
        data, "t LONG, event_type STRING, value DOUBLE"
    ).orderBy("t", "event_type")


@query(
    "q127_federate",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
),
w AS (
  SELECT event_type, shard, ts_ms, value,
         row_number() OVER (PARTITION BY event_type, shard
                            ORDER BY ts_ms DESC, value DESC) AS rn
  FROM s
  WHERE ts_ms > {_P_END - _P_LOOKBACK} AND ts_ms <= {_P_END}
),
classic AS (
  SELECT 'app_events' AS metric, event_type, shard, ts_ms AS ts,
         round(value, 2) AS value
  FROM w WHERE rn = 1
),
-- the UTF-8 arm federates the q143 OTLP store: one day-end gauge per
-- (version, event_type), so the only in-lookback sample at time=_P_END
-- is the final day's count
utf8 AS (
  SELECT 'app.events.daily' AS metric, event_type,
         CASE WHEN length(event_type) % 2 = 0 THEN '1.2' ELSE '2.0' END
             AS shard,
         CAST({_P_END} AS BIGINT) AS ts,
         CAST(count(*) AS DOUBLE) AS value
  FROM s
  WHERE ts_ms >= {_P_END - _DAY_MS} AND ts_ms < {_P_END}
  GROUP BY 1, 2, 3
)
SELECT * FROM classic UNION ALL SELECT * FROM utf8
ORDER BY metric, event_type, shard""",
)
def q127(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GET /federate`` round-trip (`api.py:render_federate`): the
    latest in-lookback sample per matched series, served as exposition
    text over the socket and REPARSED with `scrape.parse_exposition` —
    the federation contract (a downstream Prometheus re-scrapes upstream
    state with original timestamps).  One matcher-filtered scan + one
    map-side-combined ``max(struct(ts, value))`` groupBy; the oracle
    mirrors the deterministic tie-break with a (ts DESC, value DESC)
    row_number.  The UTF-8 arm (r16) federates the dotted-name OTLP
    store through the same socket: the writer emits Prometheus 3.x
    QUOTED exposition (`scrape.py:format_exposition`), a quoted
    matcher selects the dotted metric, and `parse_exposition` reads
    the quoted syntax back — writer<->parser round-trip, driver-checked."""
    import urllib.request
    from urllib.parse import quote

    from tsdb_parquet_spark.api import PromApiServer
    from tsdb_parquet_spark.plans.promql import PromQLEngine
    from tsdb_parquet_spark.scrape import parse_exposition

    engine = _promql_samples(spark, sf_dir)
    with PromApiServer(engine, lookback_ms=_P_LOOKBACK) as url:
        qs = f"match[]=app_events&time={_P_END / 1000.0}"
        with urllib.request.urlopen(f"{url}/federate?{qs}") as resp:
            text = resp.read().decode()
    data = [
        ("app_events", labels["event_type"], labels["shard"], ts_ms,
         round(value, 2))
        for labels, value, ts_ms in parse_exposition(text)
    ]
    utf8_engine = PromQLEngine(
        spark.read.parquet(_utf8_otlp_store(spark, sf_dir))
    )
    with PromApiServer(utf8_engine, lookback_ms=_P_LOOKBACK) as url:
        matcher = quote('{"app.events.daily","deploy.env"="prod"}')
        fq = f"match[]={matcher}&time={_P_END / 1000.0}"
        with urllib.request.urlopen(f"{url}/federate?{fq}") as resp:
            utf8_text = resp.read().decode()
    data += [
        (labels["__name__"], labels["event.type"],
         labels["service.version"], ts_ms, round(value, 2))
        for labels, value, ts_ms in parse_exposition(utf8_text)
    ]
    return spark.createDataFrame(
        data,
        "metric STRING, event_type STRING, shard STRING, ts LONG, "
        "value DOUBLE",
    ).orderBy("metric", "event_type", "shard")


def _q128_oracle() -> str:
    from tsdb_parquet_spark.functions.packing import sql_pack_token_chunks

    inner = sql_pack_token_chunks(256)
    return f"""
WITH spans AS ({inner})
SELECT CAST(chunk_id AS BIGINT) AS chunk_id, doc_id,
       CAST(doc_offset AS BIGINT) AS doc_offset,
       CAST(chunk_offset AS BIGINT) AS chunk_offset,
       CAST(span_len AS BIGINT) AS span_len
FROM spans ORDER BY chunk_id, doc_id"""


@query("q128_sequence_packing", _q128_oracle())
def q128(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (`functions/packing.py`) — the
    GPT-pretraining data layout: documents' tokens concatenated in
    doc_id order and sliced into 256-token training sequences, emitted
    as (chunk, doc, offsets, len) spans.  The global token offset is a
    distributed prefix sum (content-deterministic quantile buckets ->
    per-bucket totals -> literal base map -> per-bucket window), ONE
    shuffle, no Python, no global sort; the DuckDB oracle is allowed
    the single-process cumulative window the distributed plan avoids."""
    from tsdb_parquet_spark.functions.packing import pack_token_chunks

    docs = _cat(spark, sf_dir)["documents"]
    return pack_token_chunks(docs, 256, num_buckets=16).orderBy(
        "chunk_id", "doc_id"
    )


@query(
    "q129_remote_read",
    f"""
SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
       epoch_ms(ts) AS ts, round(value, 2) AS value
FROM events
WHERE epoch_ms(ts) >= {_P_START} AND epoch_ms(ts) <= {_P_START + 3 * _DAY_MS}
ORDER BY event_type, shard, ts, value""",
)
def q129(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus remote-READ served from the store (`remote_read.py`):
    a client-encoded prompb ReadRequest (selector + 3-day range) POSTs
    to ``/api/v1/read`` over a real socket, the snappy ReadResponse
    decodes back to labeled sample streams, and every sample must
    hash-match DuckDB reading the raw events — proving a real
    Prometheus with ``remote_read:`` pointed here gets bit-exact data
    through chunk encode -> store -> matcher pushdown -> protobuf wire."""
    from tsdb_parquet_spark.api import PromApiServer
    from tsdb_parquet_spark.operators.selection import Matcher
    from tsdb_parquet_spark.remote_read import (
        decode_read_response,
        encode_read_request,
    )
    from tsdb_parquet_spark.remote_write import (
        frame_payload,
        unframe_payload,
    )

    engine = _promql_samples(spark, sf_dir)
    body = frame_payload(
        encode_read_request(
            [
                (
                    _P_START,
                    _P_START + 3 * _DAY_MS,
                    [Matcher("__name__", "=", "app_events")],
                )
            ]
        )
    )
    import urllib.request

    with PromApiServer(engine) as url:
        req = urllib.request.Request(
            f"{url}/api/v1/read",
            data=body,
            headers={
                "Content-Type": "application/x-protobuf",
                "Content-Encoding": "snappy",
            },
        )
        with urllib.request.urlopen(req) as resp:
            results = decode_read_response(unframe_payload(resp.read()))
    rows = [
        (labels["event_type"], labels["shard"], ts, round(value, 2))
        for labels, samples in results[0]
        for ts, value in samples
    ]
    return spark.createDataFrame(
        rows, "event_type STRING, shard STRING, ts LONG, value DOUBLE"
    ).orderBy("event_type", "shard", "ts", "value")


@query(
    "q130_alerting_rule",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
),
steps AS (SELECT t FROM range({_P_START}, {_P_END + 1}, {_P_STEP}) r(t)),
last AS (
  SELECT st.t, s.event_type, s.shard, arg_max(s.value, s.ts_ms) AS v
  FROM steps st
  JOIN s ON s.ts_ms > st.t - {_P_LOOKBACK} AND s.ts_ms <= st.t
  GROUP BY 1, 2, 3
),
v AS (
  SELECT t, event_type, sum(v) AS value FROM last GROUP BY 1, 2
),
act AS (SELECT * FROM v WHERE value > 350),
lagged AS (
  SELECT t, event_type, value,
         lag(t) OVER (PARTITION BY event_type ORDER BY t) AS prev_t
  FROM act
),
isl AS (
  SELECT t, event_type, value,
         sum(CASE WHEN prev_t IS NULL OR t - prev_t > {_P_STEP}
                  THEN 1 ELSE 0 END)
             OVER (PARTITION BY event_type ORDER BY t) AS island
  FROM lagged
),
st AS (
  SELECT t, event_type, value,
         min(t) OVER (PARTITION BY event_type, island) AS istart
  FROM isl
)
SELECT t, 'HighEvents' AS alertname, event_type,
       CASE WHEN t - istart >= {_DAY_MS} THEN 'firing'
            ELSE 'pending' END AS alertstate,
       round(value, 2) AS value
FROM st ORDER BY t, event_type""",
)
def q130(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alerting rule with ``for``-state tracking (`rules.py`): alert
    ``HighEvents`` on ``sum by (event_type) (app_events) > 350`` with
    ``for: 1d`` over the corpus grid — pending from an island's first
    active step, firing once continuously active for the duration, the
    clock resetting across gaps (the active sets at this threshold have
    many).  One gaps-and-islands window pass over the grid-bounded
    active set; the oracle mirrors it with the same lag/island SQL on
    the q20 instant-sum CTE."""
    from tsdb_parquet_spark.rules import AlertingRule, evaluate_alerting_rule

    engine = _promql_samples(spark, sf_dir)
    rule = AlertingRule(
        "HighEvents",
        "sum by (event_type) (app_events) > 350",
        for_ms=_DAY_MS,
    )
    out = evaluate_alerting_rule(
        engine, rule, _P_START, _P_END, _P_STEP, lookback_ms=_P_LOOKBACK
    )
    return out.select(
        "t",
        "alertname",
        "event_type",
        "alertstate",
        F.round("value", 2).alias("value"),
    ).orderBy("t", "event_type")


@query(
    "q131_rule_group",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
),
steps AS (SELECT t FROM range({_P_START}, {_P_END + 1}, {_P_STEP}) r(t)),
last AS (
  SELECT st.t, s.event_type, s.shard, arg_max(s.value, s.ts_ms) AS v
  FROM steps st
  JOIN s ON s.ts_ms > st.t - {_P_LOOKBACK} AND s.ts_ms <= st.t
  GROUP BY 1, 2, 3
)
SELECT t AS ts, 'app_events:sum:doubled' AS metric, event_type,
       round(sum(v) * 2, 2) AS value
FROM last GROUP BY t, event_type ORDER BY ts, event_type""",
)
def q131(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential rule-group evaluation (`rules.evaluate_rule_group`):
    rule 1 records ``app_events:sum``; rule 2's expression SELECTS that
    new series (``app_events:sum * 2``) — Prometheus group semantics,
    where each rule sees its predecessors' output.  The recording
    output unions onto the samples frame between rules (selector
    pushdown under the union still reaches the store scan); the oracle
    recomputes the chain as one doubled instant-sum."""
    from tsdb_parquet_spark.rules import (
        RecordingRule,
        RuleGroup,
        evaluate_rule_group,
    )

    engine = _promql_samples(spark, sf_dir)
    group = RuleGroup(
        "events",
        (
            RecordingRule(
                "app_events:sum", "sum by (event_type) (app_events)"
            ),
            RecordingRule(
                "app_events:sum:doubled", "app_events:sum * 2"
            ),
        ),
    )
    results, _ = evaluate_rule_group(
        engine, group, _P_START, _P_END, _P_STEP, lookback_ms=_P_LOOKBACK
    )
    out = results["app_events:sum:doubled"]
    return out.select(
        "ts",
        F.col("__name__").alias("metric"),
        "event_type",
        F.round("value", 2).alias("value"),
    ).orderBy("ts", "event_type")


@query(
    "q132_promql_info",
    f"""
WITH s AS (
  SELECT CAST(user_id % 8 AS VARCHAR) AS instance,
         epoch_ms(ts) AS ts_ms, value
  FROM events
),
steps AS (SELECT t FROM range({_P_START}, {_P_END + 1}, {_P_STEP}) r(t)),
last AS (
  SELECT st.t, s.instance, arg_max(s.value, s.ts_ms) AS v
  FROM steps st
  JOIN s ON s.ts_ms > st.t - {_P_LOOKBACK} AND s.ts_ms <= st.t
  GROUP BY 1, 2
)
SELECT t, 'app' AS job, instance,
       CASE WHEN instance IN ('0', '1', '2', '3')
            THEN 'v' || instance ELSE '' END AS version,
       round(sum(v), 2) AS value
FROM last GROUP BY 1, 3 ORDER BY 1, 3""",
)
def q132(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``info()`` (Prometheus 3.x experimental, `plans/promql.py`
    PromInfo): enrich a vector with ``target_info`` data labels matched
    on (job, instance) per step — the query-side half of the OTLP
    ``resource_attrs="target_info"`` translation (S4g).  Fixture: events
    as ``app_events{job, instance}`` plus one ``target_info`` series per
    instance 0-3 carrying ``version`` (instances 4-7 have no info
    series, so their samples keep ``version=""``).  The info side is
    deduped + BROADCAST; the oracle inlines the static mapping."""
    from tsdb_parquet_spark.plans.promql import PromQLEngine

    cat = _cat(spark, sf_dir)
    ev = cat["events"].select(
        F.lit("app_events").alias("__name__"),
        F.lit("app").alias("job"),
        (F.col("user_id") % 8).cast("string").alias("instance"),
        F.lit("").alias("version"),
        F.expr("ts div 1000000").alias("ts"),
        "value",
    )
    info_rows = [
        ("target_info", "app", str(i), f"v{i}", t, 1.0)
        for i in range(4)
        for t in range(_P_START, _P_END + 1, _P_STEP)
    ]
    info = spark.createDataFrame(
        info_rows,
        "`__name__` STRING, job STRING, instance STRING, "
        "version STRING, ts LONG, value DOUBLE",
    )
    engine = PromQLEngine(ev.unionByName(info))
    out = engine.query_range(
        "info(sum by (job, instance) (app_events))",
        _P_START,
        _P_END,
        _P_STEP,
        lookback_ms=_P_LOOKBACK,
    )
    return out.select(
        "t", "job", "instance", "version",
        F.round("value", 2).alias("value"),
    ).orderBy("t", "instance")


@query(
    "q133_promql_ts_of",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
),
b AS (
  SELECT event_type, shard, ts_ms, value,
         {_P_START} + ((ts_ms - {_P_START} + {_P_STEP - 1}) // {_P_STEP})
             * {_P_STEP} AS t
  FROM s WHERE ts_ms > {_P_START - _P_STEP} AND ts_ms <= {_P_END}
),
w AS (SELECT * FROM b WHERE t <= {_P_END}),
r AS (
  SELECT t, event_type, shard, ts_ms,
         row_number() OVER (PARTITION BY t, event_type, shard
                            ORDER BY value DESC, ts_ms DESC) AS rn
  FROM w
),
f AS (
  SELECT t, event_type, shard, ts_ms, value,
         row_number() OVER (PARTITION BY t, event_type, shard
                            ORDER BY ts_ms ASC, value ASC) AS rn
  FROM w
),
m AS (
  SELECT t, event_type, round(max(ts_ms / 1000.0), 4) AS value
  FROM r WHERE rn = 1 GROUP BY t, event_type
),
fa AS (
  SELECT t, event_type,
         round(sum(value), 2) AS first_sum,
         round(min(ts_ms / 1000.0), 4) AS ts_of_first
  FROM f WHERE rn = 1 GROUP BY t, event_type
)
SELECT m.t, m.event_type, m.value, fa.first_sum, fa.ts_of_first
FROM m JOIN fa ON m.t = fa.t AND m.event_type = fa.event_type
ORDER BY m.t, m.event_type""",
)
def q133(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The experimental window-position family (`plans/promql.py`
    _FUNC_AGGS) on the tumbling fast path through the full chunk-store
    pipeline: ``ts_of_max_over_time`` (seconds-timestamp of each
    window's maximum sample, ties to the LATEST timestamp — the
    upstream loops' non-strict comparison), plus the r16
    ``first_over_time`` / ``ts_of_first_over_time`` twins (the OLDEST
    sample's value and seconds-timestamp; (ts, value) lexicographic
    tie rule, unobservable upstream where series timestamps are
    unique).  The oracle mirrors the tie rules with (value DESC, ts
    DESC) and (ts ASC, value ASC) row_numbers."""
    engine = _promql_samples(spark, sf_dir)
    base = "app_events[1d]"
    m3, fs3, ft3 = (
        engine.query_range(q, _P_START, _P_END, _P_STEP)
        for q in (
            f"max by (event_type) (ts_of_max_over_time({base}))",
            f"sum by (event_type) (first_over_time({base}))",
            f"min by (event_type) (ts_of_first_over_time({base}))",
        )
    )
    m = m3.select("t", "event_type", F.round("value", 4).alias("value"))
    fs = fs3.select(
        "t", "event_type", F.round("value", 2).alias("first_sum")
    )
    ft = ft3.select(
        "t", "event_type", F.round("value", 4).alias("ts_of_first")
    )
    return (
        m.join(fs, ["t", "event_type"])
        .join(ft, ["t", "event_type"])
        .orderBy("t", "event_type")
    )


@query(
    "q134_replica_dedup",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
),
-- two HA replicas built deterministically: each drops a disjoint 25%
-- of the day-buckets (r0 misses bucket%4==1, r1 misses bucket%4==2)
rep AS (
  SELECT 'r0' AS replica, event_type, shard, ts_ms, value,
         ts_ms // {_DAY_MS} AS b
  FROM s WHERE (ts_ms // {_DAY_MS}) % 4 != 1
  UNION ALL
  SELECT 'r1', event_type, shard, ts_ms, value, ts_ms // {_DAY_MS}
  FROM s WHERE (ts_ms // {_DAY_MS}) % 4 != 2
),
votes AS (
  SELECT event_type, shard, b, replica, count(*) AS n
  FROM rep GROUP BY 1, 2, 3, 4
),
winners AS (
  SELECT event_type, shard, b, replica
  FROM (SELECT *, row_number() OVER (
            PARTITION BY event_type, shard, b
            ORDER BY n DESC, replica) AS rk FROM votes)
  WHERE rk = 1
),
dedup AS (
  SELECT r.event_type, r.shard, r.ts_ms, r.value
  FROM rep r JOIN winners w
    ON r.event_type = w.event_type AND r.shard = w.shard
   AND r.b = w.b AND r.replica = w.replica
)
SELECT event_type, ts_ms // {_DAY_MS} AS day,
       CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS sum_value
FROM dedup GROUP BY 1, 2 ORDER BY 1, 2""",
)
def q134(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thanos-style HA replica dedup (`operators/replicas.py`): two
    replicas each missing a disjoint 25% of day-buckets union into one
    replicated frame; `dedup_replicas` keeps, per (series, bucket), the
    replica with the most samples (ties to the smallest replica value)
    — a windowed deterministic vote in place of the Thanos penalty
    iterator (documented trade in the module).  The oracle replicates
    the vote in SQL; where both replicas are whole the tie-break picks
    r0, where one is gappy the other wins, so the deduped set equals
    exactly one copy of the raw samples."""
    from tsdb_parquet_spark.operators.replicas import dedup_replicas

    cat = _cat(spark, sf_dir)
    s = cat["events"].select(
        F.lit("app_events").alias("__name__"),
        "event_type",
        (F.col("user_id") % 8).cast("string").alias("shard"),
        F.expr("ts div 1000000").alias("ts"),
        "value",
    )
    b = (F.col("ts") / F.lit(_DAY_MS)).cast("long")
    rep = (
        s.filter(b % 4 != 1).withColumn("replica", F.lit("r0"))
        .unionByName(s.filter(b % 4 != 2).withColumn("replica", F.lit("r1")))
    )
    out = dedup_replicas(rep, window_ms=_DAY_MS)
    return (
        out.groupBy(
            "event_type",
            (F.col("ts") / F.lit(_DAY_MS)).cast("long").alias("day"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("event_type", "day")
    )


def _events_otlp_exemplar_payloads(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf) OTLP POST bodies whose datapoints CARRY
    exemplars — one body per day, per event_type two exemplar-bearing
    points: a GAUGE ``app.events.value`` point whose exemplar holds the
    day's max value (hex ``trace_id`` = the day number, plus a
    ``sample.id`` filtered attribute) and a monotonic CUMULATIVE SUM
    ``app.events`` point whose exemplar holds the day's event count
    (attribute only) — so the hash covers the trace-id hex round-trip
    AND the ``_total`` suffix keying of monotonic-sum exemplars
    (`otlp.py` decode_export_exemplars)."""
    from tsdb_parquet_spark.otlp import encode_export_request

    tag = os.path.basename(sf_dir.rstrip("/"))
    work = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")
    final = os.path.join(work, f"otlp_exemplar_payloads_v1_{tag}")
    if os.path.exists(os.path.join(final, "_SUCCESS")):
        return final
    ev = _cat(spark, sf_dir)["events"]
    rows = (
        ev.select(
            "event_type",
            F.expr("ts div 1000000").alias("ts"),
            "value",
        )
        .toPandas()
    )
    rows["day"] = rows["ts"] // _DAY_MS
    running: dict[str, int] = {}
    payloads = []
    for day, g in rows.groupby("day", sort=True):
        day_end = int((day + 1) * _DAY_MS)
        gauge_points, sum_points = [], []
        for e, ge in g.groupby("event_type", sort=True):
            mx = round(float(ge["value"].max()), 2)
            n = int(len(ge))
            running[e] = running.get(e, 0) + n
            gauge_points.append(
                ({"event.type": e}, day_end, mx,
                 [(day_end - 1, mx,
                   {"trace_id": format(int(day), "016x"),
                    "sample.id": f"{int(day)}-{e}"})])
            )
            sum_points.append(
                ({"event.type": e}, day_end, float(running[e]),
                 [(day_end - 1, float(n),
                   {"sample.id": f"t-{int(day)}-{e}"})])
            )
        body = encode_export_request([
            ({"service.name": "app"},
             [
                 {"name": "app.events.value", "kind": "gauge",
                  "points": gauge_points},
                 {"name": "app.events", "kind": "sum",
                  "monotonic": True, "points": sum_points},
             ]),
        ])
        payloads.append((bytearray(body),))
    df = spark.createDataFrame(payloads, "payload binary")
    with _staged_publish(final, marker="_SUCCESS") as build:
        df.repartition(max(1, min(len(payloads), 32))).write.mode(
            "overwrite"
        ).parquet(build)
    return final


@query(
    "q135_otlp_exemplars",
    f"""
WITH d AS (
  SELECT event_type, epoch_ms(ts) // {_DAY_MS} AS day, value
  FROM events
),
g AS (
  SELECT event_type, day, round(max(value), 2) AS mx,
         CAST(count(*) AS DOUBLE) AS n
  FROM d GROUP BY 1, 2
),
ex AS (
  SELECT 'app_events_value' AS metric, event_type,
         (day + 1) * {_DAY_MS} - 1 AS ts, mx AS value,
         printf('%016x', day) AS trace_id,
         CAST(day AS VARCHAR) || '-' || event_type AS sample_id
  FROM g
  UNION ALL
  SELECT 'app_events_total', event_type,
         (day + 1) * {_DAY_MS} - 1, n,
         NULL, 't-' || CAST(day AS VARCHAR) || '-' || event_type
  FROM g
)
SELECT * FROM ex ORDER BY metric, event_type, ts""",
)
def q135(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTLP exemplar ingest (`otlp.otlp_exemplar_frame`): captured
    export bodies whose gauge and monotonic-sum datapoints carry
    exemplars decode executor-side into exemplar rows, covering the
    trace-id hex round-trip, the filtered-attribute translation, and
    the ``_total`` suffix keying of monotonic-sum exemplars (the
    Prometheus OTLP translation — a counter's exemplars live under the
    ``_total``-suffixed series name).  DuckDB recomputes every exemplar
    from the raw events."""
    from tsdb_parquet_spark.otlp import otlp_exemplar_frame

    path = _events_otlp_exemplar_payloads(spark, sf_dir)
    payloads = spread(spark.read.parquet(path))
    ex = otlp_exemplar_frame(
        payloads, ["__name__", "event_type", "job"]
    )
    return ex.select(
        F.col("__name__").alias("metric"),
        "event_type",
        "ts",
        "value",
        F.element_at("exemplar_labels", "trace_id").alias("trace_id"),
        F.element_at("exemplar_labels", "sample_id").alias("sample_id"),
    ).orderBy("metric", "event_type", "ts")


@query(
    "q136_remote_read_streamed",
    f"""
SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
       epoch_ms(ts) AS ts, round(value, 2) AS value
FROM events
WHERE epoch_ms(ts) >= {_P_START} AND epoch_ms(ts) <= {_P_START + 3 * _DAY_MS}
ORDER BY event_type, shard, ts, value""",
)
def q136(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus remote-READ, STREAMED_XOR_CHUNKS response type
    (`remote_read.serve_read_request_streamed`): the client advertises
    the streamed type in ``accepted_response_types``, the server
    answers over a real socket with ChunkedWriter frames (uvarint +
    CRC32C + ChunkedReadResponse) whose XOR chunks were encoded
    EXECUTOR-side and drained via ``toLocalIterator`` — O(frame) server
    memory instead of the SAMPLES path's O(result) — and the decoded
    stream must hash-match DuckDB reading the raw events (same oracle
    as q129: the two response types are answer-equivalent)."""
    from tsdb_parquet_spark.api import PromApiServer
    from tsdb_parquet_spark.operators.selection import Matcher
    from tsdb_parquet_spark.remote_read import (
        STREAMED_XOR_CHUNKS,
        decode_streamed_read_body,
        encode_read_request,
    )
    from tsdb_parquet_spark.remote_write import frame_payload

    engine = _promql_samples(spark, sf_dir)
    body = frame_payload(
        encode_read_request(
            [
                (
                    _P_START,
                    _P_START + 3 * _DAY_MS,
                    [Matcher("__name__", "=", "app_events")],
                )
            ],
            accepted=[STREAMED_XOR_CHUNKS],
        )
    )
    import urllib.request

    with PromApiServer(engine) as url:
        req = urllib.request.Request(
            f"{url}/api/v1/read",
            data=body,
            headers={
                "Content-Type": "application/x-protobuf",
                "Content-Encoding": "snappy",
            },
        )
        with urllib.request.urlopen(req) as resp:
            results = decode_streamed_read_body(resp.read(), 1)
    rows = [
        (labels["event_type"], labels["shard"], ts, round(value, 2))
        for labels, samples in results[0]
        for ts, value in samples
    ]
    return spark.createDataFrame(
        rows, "event_type STRING, shard STRING, ts LONG, value DOUBLE"
    ).orderBy("event_type", "shard", "ts", "value")


@query(
    "q137_relabel_sharding",
    """
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard, value
  FROM events
),
r AS (
  SELECT upper(event_type) AS etype_uc, shard, value,
         substring(event_type, 3) AS meta_family,
         CAST(CAST(('0x' || substring(
                  md5(event_type || '-' || shard), 17, 16))
              AS UBIGINT) % 5 AS VARCHAR) AS shard_mod
  FROM s
)
SELECT etype_uc, shard_mod, meta_family,
       count(*) AS n_samples,
       round(sum(value), 2) AS sum_value,
       count(DISTINCT shard) AS n_series
FROM r WHERE shard_mod IN ('0', '2')
GROUP BY etype_uc, shard_mod, meta_family
ORDER BY etype_uc, shard_mod""",
)
def q137(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relabeling pipeline (`operators/relabel.py` — Prometheus
    ``model/relabel``, the rewrite/routing language scrape and
    remote-write configs share): captured exposition bodies parse
    (`scrape.scrape_samples`), then the pipeline runs — ``replace``
    with Go ``${1}``/``$2`` group refs builds a synthetic target
    string, ``hashmod`` shards it (sum64(md5) =
    ``binary.BigEndian.Uint64(hash[8:])``, the LAST 8 bytes — the
    Prometheus-compatible read the r13 verdict flagged), ``keep``
    retains shards {0, 2} of 5, ``uppercase`` rewrites a label and
    ``labeldrop`` removes the temporaries.  The UTF-8 arm (r16):
    ``replace`` writes a DOTTED target label (``event.family`` — a
    U__ value-encoded column), ``labelmap`` matches it by RAW name
    (``event\\.(.+)`` — which must NOT match the underscored
    ``event_type``) and copies it to ``meta_${1}``, and ``labeldrop``
    removes the dotted temporary by raw name.  Every action is a
    Catalyst column op (no shuffle before the final aggregate); the
    oracle recomputes the shard assignment in DuckDB from md5 hex
    chars 17-32 — bit-for-bit shard agreement is the entire point of
    hashmod."""
    from tsdb_parquet_spark.operators.relabel import (
        apply_relabel,
        parse_relabel_configs,
    )
    from tsdb_parquet_spark.scrape import scrape_samples

    path = _events_scrape_payloads(spark, sf_dir)
    # one payload per task, scale-adaptive (see q111)
    payloads = spread(spark.read.parquet(path))
    samples = scrape_samples(payloads, ["__name__", "event_type", "shard"])
    configs = parse_relabel_configs([
        {"source_labels": ["event_type", "shard"], "separator": ":",
         "regex": "(.+):(.+)", "target_label": "__tmp_target",
         "replacement": "${1}-$2"},
        {"action": "hashmod", "source_labels": ["__tmp_target"],
         "modulus": 5, "target_label": "shard_mod"},
        {"action": "keep", "source_labels": ["shard_mod"],
         "regex": "0|2"},
        {"action": "uppercase", "source_labels": ["event_type"],
         "target_label": "etype_uc"},
        {"source_labels": ["event_type"], "regex": "(.{2})(.*)",
         "target_label": "event.family", "replacement": "${2}"},
        {"action": "labelmap", "regex": r"event\.(.+)",
         "replacement": "meta_${1}"},
        {"action": "labeldrop", "regex": r"__tmp_.*|event\..*"},
    ])
    out = apply_relabel(samples, configs)
    return (
        out.groupBy("etype_uc", "shard_mod", "meta_family")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.countDistinct("shard").alias("n_series"),
        )
        .orderBy("etype_uc", "shard_mod")
    )


@query(
    "q138_promql_limit",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
),
steps AS (SELECT t FROM range({_P_START}, {_P_END + 1}, {_P_STEP}) r(t)),
last AS (
  SELECT st.t, s.event_type, s.shard, arg_max(s.value, s.ts_ms) AS v
  FROM steps st
  JOIN s ON s.ts_ms > st.t - {_P_LOOKBACK} AND s.ts_ms <= st.t
  GROUP BY 1, 2, 3
),
h AS (
  SELECT *,
         CAST(CAST(('0x' || substring(md5(
             'event_type' || chr(30) || event_type || chr(31) ||
             'shard' || chr(30) || shard), 1, 16)) AS UBIGINT) AS DOUBLE)
             / 18446744073709551616.0 AS frac
  FROM last
),
k AS (
  SELECT t, event_type, shard, v FROM (
    SELECT *, row_number() OVER (
        PARTITION BY t ORDER BY frac, event_type, shard) AS rn
    FROM h) WHERE rn <= 3
)
SELECT 'k' AS part, t, event_type, shard, round(v, 2) AS value FROM k
UNION ALL
SELECT 'r' AS part, t, event_type, shard, round(v, 2) AS value
FROM h WHERE frac < 0.4
UNION ALL
SELECT 'c' AS part, t, event_type, shard, round(v, 2) AS value
FROM h WHERE frac >= 0.4
ORDER BY part, t, event_type, shard""",
)
def q138(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``limitk`` / ``limit_ratio`` (`plans/promql.py`
    PromLimit, the Prometheus 3.x experimental sampling aggregations):
    ``limitk(3, app_events)`` keeps 3 series per step (one window),
    ``limit_ratio(0.4, ...)`` keeps the deterministic ~40% sample
    (a shuffle-free filter on the series-hash fraction) and
    ``limit_ratio(-0.6, ...)`` its exact complement — the three arms
    union under a ``part`` tag so the complement-partition contract
    (``r`` + ``c`` = every series) is part of the hash.  The series
    hash is md5 over the canonical labelset of the RESULT frame —
    (event_type, shard); the plain selector drops ``__name__`` — top
    8 bytes (documented deviation from upstream's xxhash — selection
    is arbitrary-but-stable upstream too), which the DuckDB oracle
    recomputes."""
    engine = _promql_samples(spark, sf_dir)
    parts = []
    for tag, q in (
        ("k", "limitk(3, app_events)"),
        ("r", "limit_ratio(0.4, app_events)"),
        ("c", "limit_ratio(-0.6, app_events)"),
    ):
        out = engine.query_range(
            q, _P_START, _P_END, _P_STEP, lookback_ms=_P_LOOKBACK
        )
        parts.append(
            out.select(
                F.lit(tag).alias("part"),
                "t",
                "event_type",
                "shard",
                F.round("value", 2).alias("value"),
            )
        )
    res = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return res.orderBy("part", "t", "event_type", "shard")


def _q139_admin_store(spark: SparkSession, sf_dir: str) -> str:
    """pid-scoped PRE-delete store for the admin-API row: the API
    delete MUTATES the store, so it cannot be shared across processes
    (a concurrent pytest/bench pair would race the rewrite); within one
    process the delete is idempotent, so the build caches per pid."""
    from tsdb_parquet_spark.chunks import samples_to_chunks
    from tsdb_parquet_spark.schema import sort_columns
    from tsdb_parquet_spark.sources.writer import (
        SortedParquetWriter,
        WriterOptions,
    )

    tag = os.path.basename(sf_dir.rstrip("/"))
    work = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")
    final = os.path.join(work, f"admin_store_{tag}-{os.getpid()}")
    if os.path.exists(os.path.join(final, "_DONE")):
        return final
    # sweep siblings left by dead pids so .work never accumulates one
    # mutated store per historical bench/pytest process
    import glob as _glob

    for stale in _glob.glob(os.path.join(work, f"admin_store_{tag}-*")):
        try:
            pid = int(stale.rsplit("-", 1)[-1])
            os.kill(pid, 0)
        except ProcessLookupError:
            _shutil.rmtree(stale, ignore_errors=True)
        except (ValueError, PermissionError):
            pass
    _shutil.rmtree(final, ignore_errors=True)
    ev = _cat(spark, sf_dir)["events"]
    samples = ev.select(
        F.lit("app_events").alias("__name__"),
        F.col("event_type"),
        (F.col("user_id") % 8).cast("string").alias("shard"),
        F.expr("ts div 1000000").alias("ts"),
        F.col("value"),
    )
    opts = WriterOptions(
        sort_columns=sort_columns(_CHUNK_LABELS),
        bloom_columns=[c for c in _CHUNK_LABELS if c != "__name__"],
        max_files=16,
    )
    w = SortedParquetWriter(spark, final, opts)
    w.write(samples_to_chunks(samples, _CHUNK_LABELS))
    w.compact()
    open(os.path.join(final, "_DONE"), "w").close()
    return final


@query(
    "q139_admin_delete_api",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
),
kept AS (
  SELECT * FROM s
  WHERE NOT (event_type = 'view'
             AND ts_ms BETWEEN {_TOMB_MIN} AND {_TOMB_MAX})
),
steps AS (SELECT t FROM range({_P_START}, {_P_END + 1}, {_P_STEP}) r(t)),
last AS (
  SELECT st.t, k.event_type, k.shard, arg_max(k.value, k.ts_ms) AS v
  FROM steps st
  JOIN kept k ON k.ts_ms > st.t - {_P_LOOKBACK} AND k.ts_ms <= st.t
  GROUP BY 1, 2, 3
)
SELECT t, event_type, round(sum(v), 2) AS value
FROM last GROUP BY 1, 2 ORDER BY 1, 2""",
)
def q139(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TSDB admin API round-trip (`api.py:_handle_admin`): ``POST
    /api/v1/admin/tsdb/delete_series`` over a real socket — selector +
    time bounds -> `sources.maintenance.delete_samples` surgical
    rewrite -> the serving engine REBUILDS from ``samples_factory``
    under the engine lock — then the same socket answers a
    ``query_range`` whose matrix must hash-match DuckDB anti-filtering
    the deleted interval from raw events.  q117 proves the store-side
    delete pass; this row pins the API wiring and the rebuild's
    immediate queryability (the Prometheus ``--web.enable-admin-api``
    contract)."""
    import urllib.parse
    import urllib.request

    from tsdb_parquet_spark.api import PromApiServer, api_query_range_rows
    from tsdb_parquet_spark.plans.promql import PromQLEngine
    from tsdb_parquet_spark.querier import ChunkQuerier

    root = _q139_admin_store(spark, sf_dir)

    def _samples():
        return ChunkQuerier.from_store(spark, root).select_samples(
            labels=_CHUNK_LABELS
        )

    engine = PromQLEngine(_samples(), shared_scan=False)
    with PromApiServer(
        engine,
        lookback_ms=_P_LOOKBACK,
        admin_store=root,
        admin_label_names=_CHUNK_LABELS,
        samples_factory=_samples,
    ) as url:
        qs = urllib.parse.urlencode(
            {
                "match[]": 'app_events{event_type="view"}',
                "start": _TOMB_MIN / 1000.0,
                "end": _TOMB_MAX / 1000.0,
            }
        )
        req = urllib.request.Request(
            f"{url}/api/v1/admin/tsdb/delete_series?{qs}",
            data=b"",
            method="POST",
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 204, resp.status
        rows = api_query_range_rows(
            url,
            "sum by (event_type) (app_events)",
            _P_START,
            _P_END,
            _P_STEP,
        )
    data = [
        (t, labels["event_type"], round(value, 2))
        for t, labels, value in rows
    ]
    return spark.createDataFrame(
        data, "t LONG, event_type STRING, value DOUBLE"
    ).orderBy("t", "event_type")


@query(
    "q140_histogram_stddev",
    f"""
WITH obs AS (
  SELECT event_type,
         {_P_START} + ((epoch_ms(ts) - {_P_START} + {_P_STEP - 1})
             // {_P_STEP}) * {_P_STEP} AS t,
         value
  FROM events
  WHERE epoch_ms(ts) > {_P_START - _P_STEP}
    AND epoch_ms(ts) <= {_P_END}
),
buckets AS (
  SELECT event_type, t, le, CAST(count(*) AS DOUBLE) AS cnt
  FROM obs, (SELECT unnest(['25', '100', '250', '+Inf']) AS le) u
  WHERE le = '+Inf' OR value <= CAST(le AS DOUBLE)
  GROUP BY 1, 2, 3
),
stats AS (
  SELECT event_type, t, sum(value) AS s, count(*) AS c
  FROM obs GROUP BY 1, 2
),
nb AS (
  SELECT event_type, t,
         CASE WHEN le = '+Inf' THEN CAST('inf' AS DOUBLE)
              ELSE CAST(le AS DOUBLE) END AS le_n,
         cnt
  FROM buckets
),
w AS (
  SELECT event_type, t, le_n, cnt,
         lag(cnt, 1, 0.0) OVER (
             PARTITION BY event_type, t ORDER BY le_n) AS prev_cnt,
         lag(le_n) OVER (
             PARTITION BY event_type, t ORDER BY le_n) AS prev_le
  FROM nb
),
v AS (
  SELECT w.event_type, w.t,
         sum((cnt - prev_cnt) * pow(
             CASE WHEN NOT isfinite(le_n) THEN prev_le
                  WHEN prev_le IS NULL THEN
                      (CASE WHEN le_n <= 0 THEN le_n ELSE le_n / 2 END)
                  ELSE (prev_le + le_n) / 2 END
             - st.s / st.c, 2)) / max(st.c) AS var
  FROM w JOIN stats st ON st.event_type = w.event_type AND st.t = w.t
  GROUP BY 1, 2
)
SELECT 'stddev' AS part, t, event_type, round(sqrt(var), 4) AS value
FROM v
UNION ALL
SELECT 'stdvar' AS part, t, event_type, round(var, 4) AS value
FROM v
ORDER BY part, t, event_type""",
)
def q140(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``histogram_stddev`` / ``histogram_stdvar`` (`plans/promql.py`
    PromHistogramStd): bucket-wise population variance with arithmetic
    midpoints (first bucket at le/2, +Inf at its finite lower edge)
    against the EXACT ``_sum``/``_count`` mean — the native-histogram
    moments lifted onto the classic reduction.  Fixture: per
    (event_type, day) one cumulative-``le`` snapshot of that day's
    events (``app_lat_bucket``/``_sum``/``_count`` series stamped at
    the step boundary); one window + one grouped sum per arm, both
    arms unioned under a ``part`` tag.  The oracle replays the same
    lag/midpoint/variance pipeline in DuckDB."""
    from tsdb_parquet_spark.plans.promql import PromQLEngine

    ev = _cat(spark, sf_dir)["events"]
    obs = (
        ev.filter(
            (F.expr("ts div 1000000") > _P_START - _P_STEP)
            & (F.expr("ts div 1000000") <= _P_END)
        )
        .select(
            "event_type",
            F.expr(
                f"{_P_START} + ((ts div 1000000 - {_P_START} + "
                f"{_P_STEP - 1}) div {_P_STEP}) * {_P_STEP}"
            ).alias("ts"),
            "value",
        )
    )
    edges = F.array(*[F.lit(e) for e in _HQ_EDGES])
    buckets = (
        obs.select(
            "event_type",
            "ts",
            F.explode(
                F.filter(
                    edges,
                    lambda e: (e == "+Inf")
                    | (F.col("value") <= e.cast("double")),
                )
            ).alias("le"),
        )
        .groupBy("event_type", "ts", "le")
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
        .select(
            F.lit("app_lat_bucket").alias("__name__"),
            "event_type",
            "le",
            "ts",
            "value",
        )
    )
    sums = (
        obs.groupBy("event_type", "ts")
        .agg(F.sum("value").alias("value"))
        .select(
            F.lit("app_lat_sum").alias("__name__"),
            "event_type",
            F.lit("").alias("le"),
            "ts",
            "value",
        )
    )
    counts = (
        obs.groupBy("event_type", "ts")
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
        .select(
            F.lit("app_lat_count").alias("__name__"),
            "event_type",
            F.lit("").alias("le"),
            "ts",
            "value",
        )
    )
    # shared_scan: both arms read this synthesized frame 3 selector-ways
    # each — the engine-lifetime checkpoint builds the explode+3-aggregate
    # fixture once instead of per selector.
    engine = PromQLEngine(
        buckets.unionByName(sums).unionByName(counts), shared_scan=True
    )
    # histogram_stddev IS sqrt(histogram_stdvar) — the engine applies
    # F.sqrt to the identical variance expression (PromHistogramStd,
    # plans/promql.py; branch unit-pinned by test_histogram_stddev_stdvar)
    # — so evaluate the variance GRID once and derive both arms from the
    # checkpointed ~|event_type|x|steps|-row result instead of running
    # the window+mean-join+aggregate pipeline twice.  sqrt-then-round is
    # the same IEEE op chain the engine's stddev path produces;
    # hash-equality with the unchanged oracle re-proven this round.
    var = engine.query_range(
        "histogram_stdvar(app_lat)",
        _P_START,
        _P_END,
        _P_STEP,
        lookback_ms=_P_LOOKBACK,
    ).localCheckpoint(eager=False)
    parts = [
        var.select(
            F.lit("stddev").alias("part"),
            "t",
            "event_type",
            F.round(F.sqrt("value"), 4).alias("value"),
        ),
        var.select(
            F.lit("stdvar").alias("part"),
            "t",
            "event_type",
            F.round("value", 4).alias("value"),
        ),
    ]
    return (
        parts[0].unionByName(parts[1]).orderBy("part", "t", "event_type")
    )


@query(
    "q141_rules_api",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
),
steps AS (SELECT t FROM range({_P_END - 3 * _P_STEP}, {_P_END + 1},
                              {_P_STEP}) r(t)),
last AS (
  SELECT st.t, s.event_type, s.shard, arg_max(s.value, s.ts_ms) AS v
  FROM steps st
  JOIN s ON s.ts_ms > st.t - {_P_LOOKBACK} AND s.ts_ms <= st.t
  GROUP BY 1, 2, 3
),
v AS (
  SELECT t, event_type, sum(v) AS value FROM last GROUP BY 1, 2
),
act AS (SELECT * FROM v WHERE value > 150),
lagged AS (
  SELECT t, event_type, value,
         lag(t) OVER (PARTITION BY event_type ORDER BY t) AS prev_t
  FROM act
),
isl AS (
  SELECT t, event_type, value,
         sum(CASE WHEN prev_t IS NULL OR t - prev_t > {_P_STEP}
                  THEN 1 ELSE 0 END)
             OVER (PARTITION BY event_type ORDER BY t) AS island
  FROM lagged
),
st AS (
  SELECT t, event_type, value,
         min(t) OVER (PARTITION BY event_type, island) AS istart
  FROM isl
)
SELECT 'HighEventsApi' AS alertname, event_type,
       CASE WHEN t - istart >= {_DAY_MS} THEN 'firing'
            ELSE 'pending' END AS alertstate,
       istart AS active_at,
       round(value, 2) AS value
FROM st WHERE t = {_P_END} ORDER BY event_type""",
)
def q141(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GET /api/v1/rules?time=T`` live alert state
    (`api.rules_result`): the endpoint evaluates each alerting rule's
    state machine over a window long enough to resolve ``for`` at the
    group's interval (``ceil((for + keep_firing_for + 2*interval) /
    interval)`` steps back from T) and answers per-series alerts with
    state / ActiveAt / Go-'f' value — the promtool/Grafana surface.
    The full JSON wire round-trips over a real socket (ISO-8601
    ActiveAt reparsed to epoch ms); the oracle replays the same
    clipped-window gaps-and-islands machine at t = T in DuckDB."""
    import json as _json
    import urllib.request
    from datetime import datetime

    from tsdb_parquet_spark.api import PromApiServer
    from tsdb_parquet_spark.rules import AlertingRule, RuleGroup

    engine = _promql_samples(spark, sf_dir)
    group = RuleGroup(
        "api",
        (
            AlertingRule(
                "HighEventsApi",
                "sum by (event_type) (app_events) > 150",
                for_ms=_DAY_MS,
            ),
        ),
        interval_ms=_P_STEP,
    )
    with PromApiServer(
        engine, lookback_ms=_P_LOOKBACK, rule_groups=[group]
    ) as url:
        with urllib.request.urlopen(
            f"{url}/api/v1/rules?time={_P_END / 1000.0}"
        ) as resp:
            doc = _json.load(resp)
    [g] = doc["data"]["groups"]
    [rule] = g["rules"]
    rows = []
    for a in rule["alerts"]:
        active_ms = int(
            datetime.fromisoformat(
                a["activeAt"].replace("Z", "+00:00")
            ).timestamp()
            * 1000
        )
        rows.append(
            (
                a["labels"]["alertname"],
                a["labels"].get("event_type", ""),
                a["state"],
                active_ms,
                round(float(a["value"]), 2),
            )
        )
    return spark.createDataFrame(
        rows,
        "alertname STRING, event_type STRING, alertstate STRING, "
        "active_at LONG, value DOUBLE",
    ).orderBy("event_type")


_Q142_MID = _P_START + 14 * _P_STEP  # "restart" boundary: Jan 16
_Q142_EXPR = "sum by (event_type) (app_events) > 150"


def _events_restore_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf) the FIRST-half rule write-back store for the
    restart-restore row: one `run_rule_group_to_store` interval over
    [_P_START, _Q142_MID] persisting ALERTS + ALERTS_FOR_STATE — the
    state a real rule manager would have on disk when the process
    bounces."""
    from tsdb_parquet_spark.rules import (
        AlertingRule,
        RuleGroup,
        run_rule_group_to_store,
    )

    tag = os.path.basename(sf_dir.rstrip("/"))
    work = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")
    final = os.path.join(work, f"restore_store_{tag}")
    if os.path.exists(os.path.join(final, "_DONE")):
        return final
    engine = _promql_samples(spark, sf_dir)
    group = RuleGroup(
        "restore",
        (
            AlertingRule(
                "HighEventsRestore", _Q142_EXPR, for_ms=2 * _DAY_MS
            ),
        ),
        interval_ms=_P_STEP,
    )
    with _staged_publish(final, marker="_DONE") as build:
        _counts, writer = run_rule_group_to_store(
            spark,
            engine,
            group,
            build,
            ["__name__", "alertname", "alertstate", "event_type"],
            _P_START,
            _Q142_MID,
            _P_STEP,
            lookback_ms=_P_LOOKBACK,
        )
        writer.compact()
        open(os.path.join(build, "_DONE"), "w").close()
    return final


@query(
    "q142_alert_restore",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
),
steps AS (SELECT t FROM range({_P_START}, {_P_END + 1}, {_P_STEP}) r(t)),
last AS (
  SELECT st.t, s.event_type, s.shard, arg_max(s.value, s.ts_ms) AS v
  FROM steps st
  JOIN s ON s.ts_ms > st.t - {_P_LOOKBACK} AND s.ts_ms <= st.t
  GROUP BY 1, 2, 3
),
v AS (
  SELECT t, event_type, sum(v) AS value FROM last GROUP BY 1, 2
),
act AS (SELECT * FROM v WHERE value > 150),
l1 AS (
  SELECT t, event_type,
         lag(t) OVER (PARTITION BY event_type ORDER BY t) AS prev_t
  FROM act WHERE t <= {_Q142_MID}
),
i1 AS (
  SELECT t, event_type,
         sum(CASE WHEN prev_t IS NULL OR t - prev_t > {_P_STEP}
                  THEN 1 ELSE 0 END)
             OVER (PARTITION BY event_type ORDER BY t) AS island
  FROM l1
),
s1 AS (
  SELECT t, event_type,
         min(t) OVER (PARTITION BY event_type, island) AS istart
  FROM i1
),
restored AS (
  SELECT event_type, arg_max(istart, t) AS r_active FROM s1 GROUP BY 1
),
l2 AS (
  SELECT t, event_type, value,
         lag(t) OVER (PARTITION BY event_type ORDER BY t) AS prev_t
  FROM act WHERE t > {_Q142_MID}
),
i2 AS (
  SELECT t, event_type, value,
         sum(CASE WHEN prev_t IS NULL OR t - prev_t > {_P_STEP}
                  THEN 1 ELSE 0 END)
             OVER (PARTITION BY event_type ORDER BY t) AS island
  FROM l2
),
s2 AS (
  SELECT t, event_type, value,
         min(t) OVER (PARTITION BY event_type, island) AS istart
  FROM i2
),
j AS (
  SELECT s2.t, s2.event_type, s2.value,
         CASE WHEN s2.istart = {_Q142_MID + _P_STEP}
                   AND r.r_active IS NOT NULL
              THEN r.r_active ELSE s2.istart END AS active_at
  FROM s2 LEFT JOIN restored r ON r.event_type = s2.event_type
)
SELECT t, 'HighEventsRestore' AS alertname, event_type,
       CASE WHEN t - active_at >= {2 * _DAY_MS} THEN 'firing'
            ELSE 'pending' END AS alertstate,
       active_at, round(value, 2) AS value
FROM j ORDER BY t, event_type""",
)
def q142(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert ``for``-state restore across restarts (`rules.py`
    `read_for_state` + `evaluate_alerting_rule(restored_active_at=)`):
    the first half of the range evaluates and PERSISTS
    ``ALERTS_FOR_STATE`` to a store (fixture); this row plays the
    post-bounce process — it reads the restore series back through a
    `ChunkQuerier`, hands the latest ActiveAt per series to the second
    half's evaluation, and a series still active at the first
    post-restart step keeps its pre-restart clock (a straddling island
    fires EARLIER than a fresh clock would allow — Prometheus's
    restore semantics).  The oracle replays both halves' islands plus
    the adoption rule in DuckDB."""
    from tsdb_parquet_spark.querier import ChunkQuerier
    from tsdb_parquet_spark.rules import (
        AlertingRule,
        evaluate_alerting_rule,
        read_for_state,
    )

    engine = _promql_samples(spark, sf_dir)
    store = _events_restore_store(spark, sf_dir)
    samples = ChunkQuerier.from_store(spark, store).select_samples(
        labels=["__name__", "alertname", "alertstate", "event_type"]
    )
    restored = read_for_state(samples, "HighEventsRestore")
    rule = AlertingRule(
        "HighEventsRestore", _Q142_EXPR, for_ms=2 * _DAY_MS
    )
    out = evaluate_alerting_rule(
        engine,
        rule,
        _Q142_MID + _P_STEP,
        _P_END,
        _P_STEP,
        lookback_ms=_P_LOOKBACK,
        restored_active_at=restored,
    )
    return out.select(
        "t",
        "alertname",
        "event_type",
        "alertstate",
        "active_at",
        F.round("value", 2).alias("value"),
    ).orderBy("t", "event_type")


def _utf8_otlp_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf) a parquet store of OTLP samples ingested
    under ``translation="no_utf8_escaping"`` (Prometheus 3.x UTF-8
    names): one body per day over events, each with TWO resource
    batches (``service.version`` "1.2" for even-length event types,
    "2.0" for odd — a deterministic split DuckDB reproduces with
    ``length() % 2``) carrying a GAUGE ``app.events.daily`` datapoint
    per event_type at day-end whose value is that day's event count.
    Resource attrs ``service.name``/``service.version``/``deploy.env``
    and datapoint attr ``event.type`` all carry dots, so every label
    column in the store is a ``U__`` value-encoded name (`names.py`)
    and the metric-name VALUE stays raw-dotted.  The store write IS
    part of the round-trip under test: U__ columns must survive
    parquet and come back pushdown-capable."""
    from tsdb_parquet_spark.otlp import encode_export_request, otlp_frame

    tag = os.path.basename(sf_dir.rstrip("/"))
    work = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")
    final = os.path.join(work, f"utf8_otlp_store_v1_{tag}")
    if os.path.exists(os.path.join(final, "_SUCCESS")):
        return final
    ev = _cat(spark, sf_dir)["events"]
    counts = (
        ev.select("event_type", F.expr("ts div 1000000").alias("ts"))
        .groupBy(
            "event_type",
            ((F.col("ts") / F.lit(_DAY_MS)).cast("long")).alias("day"),
        )
        .count()
        .toPandas()
        .sort_values(["day", "event_type"], kind="mergesort")
    )
    payloads = []
    for day, g in counts.groupby("day", sort=True):
        day_end = int((day + 1) * _DAY_MS)
        batches = []
        for version, pred in (
            ("1.2", lambda e: len(e) % 2 == 0),
            ("2.0", lambda e: len(e) % 2 == 1),
        ):
            points = [
                ({"event.type": e}, day_end, float(n))
                for e, n in zip(g["event_type"], g["count"])
                if pred(e)
            ]
            if points:
                batches.append((
                    {"service.name": "app", "service.version": version,
                     "deploy.env": "prod"},
                    [{"name": "app.events.daily", "kind": "gauge",
                      "points": points}],
                ))
        payloads.append((bytearray(encode_export_request(batches)),))
    df = spark.createDataFrame(payloads, "payload binary")
    frame = otlp_frame(
        df,
        label_names=["__name__", "job", "service.version",
                     "deploy.env", "event.type"],
        translation="no_utf8_escaping",
    )
    with _staged_publish(final, marker="_SUCCESS") as build:
        frame.repartition(4).write.mode("overwrite").parquet(build)
    return final


@query(
    "q143_utf8_names_roundtrip",
    f"""
WITH s AS (
  SELECT event_type, epoch_ms(ts) AS ts_ms FROM events
),
d AS (
  SELECT event_type, ((ts_ms // {_DAY_MS}) + 1) * {_DAY_MS} AS t,
         count(*) AS n
  FROM s GROUP BY 1, 2
),
steps AS (SELECT t FROM range({_P_START}, {_P_END + 1}, {_P_STEP}) r(t))
SELECT st.t,
       CASE WHEN length(d.event_type) % 2 = 0 THEN '1.2' ELSE '2.0' END
           AS "service.version",
       d.event_type AS "event.type",
       CAST(d.n AS DOUBLE) AS value
FROM steps st JOIN d ON d.t = st.t
ORDER BY 1, 2, 3""",
)
def q143(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus 3.x UTF-8 names end-to-end (r14 verdict item #3):
    dotted OTLP attribute names ingested with
    ``translation="no_utf8_escaping"`` survive LOSSLESSLY as U__
    value-encoded parquet columns (`names.py` — the public
    prometheus/common ``EscapeName`` scheme), and the quoted selector
    syntax (`{{"app.events.daily", "deploy.env"="prod"}}`, grouping
    ``by ("service.version", "event.type")``) resolves them with
    matcher pushdown on the escaped columns.  The day-end gauge value
    is the day's event count, so each instant-vector group is exact
    and the oracle recomputes every (step, version, event_type) cell
    from raw events.  The reference has no UTF-8-name analog
    (`prometheus/querier.go:71-73` predates Prometheus 3.x names)."""
    from tsdb_parquet_spark.plans.promql import PromQLEngine

    store = _utf8_otlp_store(spark, sf_dir)
    engine = PromQLEngine(spark.read.parquet(store))
    out = engine.query_range(
        'sum by ("service.version", "event.type") '
        '({"app.events.daily", "deploy.env"="prod"})',
        _P_START,
        _P_END,
        _P_STEP,
        lookback_ms=_P_LOOKBACK,
    )
    return (
        out.orderBy("t", "U__service_2e_version", "U__event_2e_type")
        .select(
            "t",
            F.col("U__service_2e_version").alias("service.version"),
            F.col("U__event_2e_type").alias("event.type"),
            "value",
        )
    )


@query(
    "q144_serve_replica_dedup",
    f"""
WITH s AS (
  SELECT event_type, CAST(user_id % 8 AS VARCHAR) AS shard,
         epoch_ms(ts) AS ts_ms, value
  FROM events
),
rep AS (
  SELECT 'r0' AS replica, event_type, shard, ts_ms, value,
         ts_ms // {_DAY_MS} AS b
  FROM s WHERE (ts_ms // {_DAY_MS}) % 4 != 1
  UNION ALL
  SELECT 'r1', event_type, shard, ts_ms, value, ts_ms // {_DAY_MS}
  FROM s WHERE (ts_ms // {_DAY_MS}) % 4 != 2
),
-- the serve path votes PER REQUEST, clipped to the selector's exact
-- window [start - lookback + 1, end] BEFORE counting (cli.py's
-- bounded-vote transform) — mirror the clip, then the bucket vote
clipped AS (
  SELECT * FROM rep
  WHERE ts_ms > {_P_START - _P_LOOKBACK} AND ts_ms <= {_P_END}
),
votes AS (
  SELECT event_type, shard, b, replica, count(*) AS n
  FROM clipped GROUP BY 1, 2, 3, 4
),
winners AS (
  SELECT event_type, shard, b, replica
  FROM (SELECT *, row_number() OVER (
            PARTITION BY event_type, shard, b
            ORDER BY n DESC, replica) AS rk FROM votes)
  WHERE rk = 1
),
dedup AS (
  SELECT r.event_type, r.shard, r.ts_ms, r.value
  FROM clipped r JOIN winners w
    ON r.event_type = w.event_type AND r.shard = w.shard
   AND r.b = w.b AND r.replica = w.replica
),
steps AS (SELECT t FROM range({_P_START}, {_P_END + 1}, {_P_STEP}) r(t)),
last AS (
  SELECT st.t, d.event_type, d.shard, arg_max(d.value, d.ts_ms) AS v
  FROM steps st
  JOIN dedup d ON d.ts_ms > st.t - {_P_LOOKBACK} AND d.ts_ms <= st.t
  GROUP BY 1, 2, 3
)
SELECT t, event_type, round(sum(v), 2) AS value
FROM last GROUP BY 1, 2 ORDER BY 1, 2""",
)
def q144(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve-path HA replica dedup (r14 verdict item #4): the q134
    two-replica frame served through a real loopback
    ``/api/v1/query_range`` with the EXACT ``serve --replica-label``
    wiring (`cli.py:817-837` — a per-request ts-bounded
    `dedup_replicas` vote as the engine's ``samples_transform``, never
    a startup full-store vote).  The oracle clips to the request's
    selector window before voting, exactly like the transform, then
    recomputes the per-bucket winner and the instant-vector sum —
    pinning the serve wiring end-to-end where q134 pins the operator
    and `test_replicas.py` pins the bounds math."""
    from tsdb_parquet_spark.api import PromApiServer, api_query_range_rows
    from tsdb_parquet_spark.operators.replicas import dedup_replicas
    from tsdb_parquet_spark.plans.promql import PromQLEngine

    cat = _cat(spark, sf_dir)
    s = cat["events"].select(
        F.lit("app_events").alias("__name__"),
        "event_type",
        (F.col("user_id") % 8).cast("string").alias("shard"),
        F.expr("ts div 1000000").alias("ts"),
        "value",
    )
    b = (F.col("ts") / F.lit(_DAY_MS)).cast("long")
    rep = (
        s.filter(b % 4 != 1).withColumn("replica", F.lit("r0"))
        .unionByName(s.filter(b % 4 != 2).withColumn("replica", F.lit("r1")))
    )

    def transform(df, lo, hi):
        bounds = (lo, hi) if lo is not None and hi is not None else None
        return dedup_replicas(df, "replica", window_ms=_DAY_MS,
                              ts_bounds=bounds)

    engine = PromQLEngine(rep, samples_transform=transform)
    with PromApiServer(engine, lookback_ms=_P_LOOKBACK) as url:
        rows = api_query_range_rows(
            url,
            "sum by (event_type) (app_events)",
            _P_START,
            _P_END,
            _P_STEP,
        )
    data = [
        (t, labels["event_type"], round(value, 2))
        for t, labels, value in rows
    ]
    return spark.createDataFrame(
        data, "t LONG, event_type STRING, value DOUBLE"
    ).orderBy("t", "event_type")

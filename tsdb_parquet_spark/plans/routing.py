"""Query-time rollup routing — Thanos-style downsampling selection.

``sources/rollup.py`` materializes recording-rule series (``m:sum``,
``m:count``, ...) at a coarse resolution; this module makes the query
surface pick them AUTOMATICALLY: a range selector whose window, grid and
offset all align to the rollup resolution is rewritten to the rolled
series (``count_over_time(m[1d])`` → ``sum_over_time(m:count[1d])``,
``avg_over_time`` → ``sum/count``), everything else keeps reading raw.
The reference's converter stops short of exactly this half of the
feature (`cmd/convert/main.go:79-117` writes one resolution and leaves
selection to the operator).

Routing is PER SELECTOR, not per query: the routed engine evaluates over
the union of the raw and rollup stores (`ChunkQuerier.from_stores`), so
a rewritten selector's ``__name__ = 'm:sum'`` equality matcher prunes
raw-store chunks at the storage layer (bloom/dictionary pushdown on the
sort-prefix label), and unrewritable selectors in the same query still
read raw — no all-or-nothing fallback.

Scale shape: the rollup store holds ~``raw_rows * aggs / samples_per
_bucket`` rows; a 90-day daily-step dashboard query scans that instead
of the raw samples, and the rewrite itself is a driver-side AST walk —
no extra shuffle, no second scan.
"""

from __future__ import annotations

from dataclasses import fields, replace
from typing import Sequence

from pyspark.sql import SparkSession

from tsdb_parquet_spark.plans.promql import (
    PromBinary,
    PromExpr,
    PromQLEngine,
    PromSubquery,
)
from tsdb_parquet_spark.sources.rollup import ROLLUP_AGGS

#: range function -> (rollup series suffix, function to run over it)
_FUNC_REWRITES: dict[str, tuple[str, str]] = {
    "sum_over_time": ("sum", "sum_over_time"),
    "count_over_time": ("count", "sum_over_time"),
    "min_over_time": ("min", "min_over_time"),
    "max_over_time": ("max", "max_over_time"),
    "last_over_time": ("last", "last_over_time"),
}


def _alignable(expr: PromExpr, rs: int, start_ms: int, step_ms: int) -> bool:
    """A window (t - range, t] decomposes into whole rollup buckets
    (right-closed, stamped at bucket end — `sources/rollup.py:38-42`)
    iff every evaluation instant and the window width are multiples of
    the rollup resolution."""
    return (
        expr.range_ms is not None
        and expr.range_ms >= rs
        and expr.range_ms % rs == 0
        and start_ms % rs == 0
        and step_ms % rs == 0
        and expr.offset_ms % rs == 0
        and (expr.at_ms is None or expr.at_ms % rs == 0)
        and not any(m.name == "__name__" for m in expr.matchers)
    )


def _rolled(expr: PromExpr, agg: str, func: str) -> PromExpr:
    return replace(
        expr, metric=f"{expr.metric}:{agg}", func=func,
        agg=None, by=None, without=None,
    )


def rewrite_for_rollup(
    node,
    rollup_step_ms: int,
    start_ms: int,
    step_ms: int,
    aggs: Sequence[str] = ROLLUP_AGGS,
    known_names: "set[str] | None" = None,
):
    """Rewrite eligible range selectors to their rollup series.  Returns
    ``(rewritten_node, n_rewrites)``; unrewritable subtrees come back
    untouched.  Subquery interiors are rewritten against their OWN grid:
    the interior evaluates at ``start=((outer_start - range) // sub + 1)
    * sub, step=sub`` (the absolute-aligned sub-grid `_eval_subquery`
    derives), so alignment is re-checked per scope — a 1d-step
    interior under a misaligned outer grid still routes, and a nested
    subquery re-derives again.

    ``known_names`` (when given) is the census of series names the
    rollup store actually holds: a selector rewrites only if its target
    ``metric:agg`` exists there.  Without the guard, a query over a
    series the rollup never materialized — most commonly a direct
    recording-rule inspection like ``sum_over_time(m:sum[1d])``, whose
    rewrite target would be ``m:sum:sum`` — silently evaluates over
    nothing.  ``None`` keeps the unguarded behavior for callers whose
    store provably covers every raw series."""
    from tsdb_parquet_spark.plans.promql import PromAgg

    available = set(aggs)
    rs = int(rollup_step_ms)

    def _have(metric: str, agg: str) -> bool:
        return known_names is None or f"{metric}:{agg}" in known_names

    def walk(n, start_ms=start_ms, step_ms=step_ms):
        if not hasattr(n, "__dataclass_fields__"):
            return n, 0
        if isinstance(n, PromSubquery):
            sub = int(n.step_ms)
            sub_start = ((start_ms - n.range_ms) // sub + 1) * sub
            inner, k = walk(n.inner, start_ms=sub_start, step_ms=sub)
            return (replace(n, inner=inner) if k else n), k
        if isinstance(n, PromExpr):
            if not _alignable(n, rs, start_ms, step_ms):
                return n, 0
            if n.func in _FUNC_REWRITES:
                agg, func = _FUNC_REWRITES[n.func]
                if agg not in available or not _have(n.metric, agg):
                    return n, 0
                # keep any fused outer aggregation — only the selector
                # and range function change
                return replace(n, metric=f"{n.metric}:{agg}", func=func), 1
            if (
                n.func == "avg_over_time"
                and "sum" in available
                and "count" in available
                and _have(n.metric, "sum")
                and _have(n.metric, "count")
            ):
                ratio = PromBinary(
                    op="/",
                    left=_rolled(n, "sum", "sum_over_time"),
                    right=_rolled(n, "count", "sum_over_time"),
                )
                if n.agg is None:
                    return ratio, 1
                return (
                    PromAgg(op=n.agg, inner=ratio, by=n.by, without=n.without),
                    1,
                )
            return n, 0
        total = 0
        updates = {}
        # generic recursion threads the CURRENT scope's grid through, so
        # nodes inside a subquery interior keep the sub-grid alignment
        for f in fields(n):
            value = getattr(n, f.name)
            if hasattr(value, "__dataclass_fields__"):
                new, k = walk(value, start_ms=start_ms, step_ms=step_ms)
                if k:
                    updates[f.name] = new
                    total += k
            elif isinstance(value, (list, tuple)):
                new_items, changed = [], False
                for item in value:
                    if hasattr(item, "__dataclass_fields__"):
                        new, k = walk(
                            item, start_ms=start_ms, step_ms=step_ms
                        )
                        new_items.append(new)
                        changed = changed or k > 0
                        total += k
                    else:
                        new_items.append(item)
                if changed:
                    updates[f.name] = type(value)(new_items)
        return (replace(n, **updates) if updates else n), total

    return walk(node)


class RollupRoutedEngine(PromQLEngine):
    """PromQLEngine over the raw+rollup union that applies
    :func:`rewrite_for_rollup` to every ``query_range``.
    ``last_rewrites`` exposes how many selectors the previous call
    served from the rollup store (0 = everything read raw)."""

    def __init__(
        self,
        samples,
        rollup_step_ms: int,
        rollup_aggs: Sequence[str] = ROLLUP_AGGS,
        known_names=None,
        **kwargs,
    ):
        """``known_names``: optional census of the rollup store's series
        names — a ``set`` or a zero-arg callable resolved (once) on first
        use, so :func:`routed_engine` can defer the distinct-names scan
        until a query actually needs it."""
        super().__init__(samples, **kwargs)
        self.rollup_step_ms = int(rollup_step_ms)
        self.rollup_aggs = tuple(rollup_aggs)
        self._known_names = known_names
        self.last_rewrites = 0

    def _resolve_known_names(self):
        if callable(self._known_names):
            self._known_names = set(self._known_names())
        return self._known_names

    def _route(self, node, start_ms, end_ms, step_ms, lookback_ms):
        node, n = rewrite_for_rollup(
            node, self.rollup_step_ms, start_ms, step_ms, self.rollup_aggs,
            known_names=self._resolve_known_names(),
        )
        self.last_rewrites = n
        return node


def routed_engine(
    spark: SparkSession,
    raw_store_dir: str,
    rollup_store_dir: str,
    label_columns: Sequence[str],
    rollup_step_ms: int,
    rollup_aggs: Sequence[str] = ROLLUP_AGGS,
    **kwargs,
) -> RollupRoutedEngine:
    """Open raw + rollup chunk stores as ONE query surface.  Selector
    ``__name__`` equality matchers reach both stores' scans as pushed
    predicates, so a rewritten query touches only rollup chunks and an
    unrewritten one only raw chunks — the union costs nothing beyond
    the footer reads."""
    from tsdb_parquet_spark.querier import ChunkQuerier

    q = ChunkQuerier.from_stores(spark, [raw_store_dir, rollup_store_dir])
    samples = q.select_samples(labels=list(label_columns))

    def rollup_names():
        # one dictionary-backed distinct over the rollup store's sorted
        # __name__ prefix column, deferred to the first query and cached
        # by the engine — guards the rewrite against targets the store
        # never materialized (direct recording-rule inspection queries)
        rq = ChunkQuerier.from_parquet(spark, rollup_store_dir)
        return {
            r["value"] for r in rq.label_values("__name__").collect()
        }

    return RollupRoutedEngine(
        samples, rollup_step_ms, rollup_aggs=rollup_aggs,
        known_names=rollup_names, **kwargs
    )


def _metric_names(node) -> "set[str] | None":
    """Every selector's metric name in the (routed) AST; ``None`` when
    any selector has no name (bare matcher selectors can't be farm-
    classified, so the caller unions both farms)."""
    names: set[str] = set()
    unknown = False

    def walk(n):
        nonlocal unknown
        if isinstance(n, PromExpr):
            if n.metric:
                names.add(n.metric)
            else:
                unknown = True
            return
        if hasattr(n, "__dataclass_fields__"):
            for f in fields(n):
                v = getattr(n, f.name)
                if isinstance(v, (list, tuple)):
                    for item in v:
                        walk(item)
                else:
                    walk(v)

    walk(node)
    return None if unknown else names


class _PreRoutedEngine(PromQLEngine):
    """PromQLEngine whose routing decision was made by the caller —
    `_route` returns the pre-computed node instead of re-deriving it."""

    def __init__(self, samples, routed_node, **kwargs):
        super().__init__(samples, **kwargs)
        self._routed_node = routed_node

    def _route(self, node, start_ms, end_ms, step_ms, lookback_ms):
        return self._routed_node


class BlockFarmRoutedEngine:
    """Routed PromQL over a RAW block farm plus its downsampled
    recording-rule farm (`tsdb_block.maintain_block_farm`'s output) —
    route FIRST, decode SECOND.

    Chunk STORES get selector pushdown for free (parquet blooms prune
    the un-routed store's row groups), but a block farm's decode is a
    ``mapInPandas`` pass that Catalyst cannot push filters into — so
    this engine makes the pruning decision DRIVER-SIDE before any
    decode task launches:

    1. `rewrite_for_rollup` routes the query's aligned selectors to
       recording-rule names;
    2. the metric names the REWRITE introduced pick which FARM(S) to
       decode — all-rollup queries never touch a raw block, unrewritten
       ones never touch the rollup farm (mixed or name-less selectors
       union both; a raw series whose user-chosen name merely looks
       like a recording rule stays a raw read);
    3. `data_window` + each block's meta.json ``[minTime, maxTime)``
       prune individual blocks, so a bounded query over a multi-year
       farm decodes a handful of blocks (the same pruning `cli promql
       --data-dir` applies), one task per block.

    ``last_rewrites`` / ``last_blocks_read`` expose the decisions for
    plan tests and operators.  Block lists and metas re-read per query
    (driver-side metadata only), so a maintenance tick landing between
    queries is picked up without reopening the engine."""

    def __init__(
        self,
        spark: SparkSession,
        data_dir: str,
        downsample_dir: str,
        label_names: Sequence[str],
        rollup_step_ms: int,
        rollup_aggs: Sequence[str] = ROLLUP_AGGS,
        tombstones: str = "error",
        **engine_kwargs,
    ):
        self._spark = spark
        self.data_dir = data_dir
        self.downsample_dir = downsample_dir
        self._labels = list(label_names)
        self.rollup_step_ms = int(rollup_step_ms)
        self.rollup_aggs = tuple(rollup_aggs)
        self._tombstones = tombstones
        self._engine_kwargs = engine_kwargs
        self.last_rewrites = 0
        self.last_blocks_read = 0
        self.last_select: "dict | None" = None
        #: per-farm (parent_dir, sorted name list | None) decode
        #: selections of the previous call — shows collision precedence
        self.last_farm_selects: "list[tuple[str, list | None]]" = []
        #: per-block cache for the downsample farm's __name__ census,
        #: keyed on the index file's (size, mtime_ns) so a maintenance
        #: tick rewriting a block invalidates its entry
        self._name_cache: dict[str, tuple[tuple[int, int], frozenset]] = {}

    def _downsample_names(self) -> "set[str]":
        """``__name__`` census of the downsample farm — driver-side
        index-only reads (postings offset table, no series walk, no
        chunk IO), cached per block on the index file's stat signature.
        Bounded by the downsample farm's block count, which is the
        SMALL farm (one rollup block summarizes many raw blocks), so
        the probe stays cheap at a 100 TB raw farm."""
        import os as _os

        from tsdb_parquet_spark.tsdb_block import (
            discover_blocks,
            index_label_values,
        )

        if not _os.path.isdir(self.downsample_dir):
            return set()
        names: set[str] = set()
        for d in discover_blocks(self.downsample_dir):
            idx = _os.path.join(d, "index")
            try:
                st = _os.stat(idx)
            except OSError:
                continue
            sig = (st.st_size, st.st_mtime_ns)
            cached = self._name_cache.get(d)
            if cached is None or cached[0] != sig:
                cached = (
                    sig,
                    frozenset(index_label_values(d, "__name__")),
                )
                self._name_cache[d] = cached
            names |= cached[1]
        return names

    def _farm_blocks(self, parent: str):
        import json as _json
        import os as _os

        from tsdb_parquet_spark.tsdb_block import discover_blocks

        out = []
        for d in discover_blocks(parent):
            with open(_os.path.join(d, "meta.json")) as fh:
                meta = _json.load(fh)
            out.append(
                (d, int(meta.get("minTime", 0)),
                 int(meta.get("maxTime", 1 << 62)))
            )
        return out

    def query_range(
        self,
        promql: str,
        start_ms: int,
        end_ms: int,
        step_ms: int,
        lookback_ms: int | None = None,
    ):
        from tsdb_parquet_spark.chunks import chunks_to_samples
        from tsdb_parquet_spark.plans.promql import (
            DEFAULT_LOOKBACK_MS,
            data_window,
            parse_promql,
        )
        from tsdb_parquet_spark.tsdb_block import blocks_to_chunk_frame

        if lookback_ms is None:
            lookback_ms = DEFAULT_LOOKBACK_MS
        node = parse_promql(promql)
        ds_names = self._downsample_names()
        routed, n = rewrite_for_rollup(
            node, self.rollup_step_ms, start_ms, step_ms, self.rollup_aggs,
            known_names=ds_names,
        )
        self.last_rewrites = n
        names_before = _metric_names(node)
        names = _metric_names(routed)
        if names is None or names_before is None:
            farm_selects: list[tuple[str, set | None]] = [
                (self.downsample_dir, None),
                (self.data_dir, None),
            ]
        else:
            # names the REWRITE introduced live in the rollup farm.  A raw
            # series that merely LOOKS like a recording rule (user-named
            # 'cluster:cpu:sum' ingested raw) classifies by where it came
            # from, not by name shape — but a literal selector naming a
            # series the downsample farm REALLY holds (querying
            # 'app_events:sum' directly is the standard way to inspect
            # recording rules) must read it too: existence is checked
            # against the farm's own index, driver-side, before any
            # decode task launches.  n > 0 forces the downsample farm
            # independently of the name-set difference, because a
            # rewrite-introduced name that collides with a literal
            # selector cancels out of `names - names_before`.
            #
            # PRECEDENCE on name collision: a residual name the rollup
            # farm's index really holds reads from the rollup farm ONLY
            # — if the raw farm also happens to hold a series with that
            # exact name (a user ingested 'app_events:sum' raw while a
            # rule materialized the same name), decoding both farms
            # would silently double every sample.  Each farm therefore
            # gets its OWN name selection; the raw farm never decodes a
            # name the rollup farm owns.
            rollup_names = names - names_before
            residual = names - rollup_names
            ds_resident = residual & ds_names
            raw_residual = residual - ds_names
            farm_selects = []
            if rollup_names or n > 0 or ds_resident:
                farm_selects.append(
                    (self.downsample_dir, rollup_names | ds_resident)
                )
            if raw_residual or not names:
                farm_selects.append(
                    (self.data_dir, raw_residual if names else None)
                )
        window = data_window(routed, start_ms, end_ms, lookback_ms)
        # selector pushdown INTO the decode: when every selector in the
        # routed AST carries a name, each block task resolves the
        # per-(label,value) postings for that name set and fetches only
        # the matching series' chunk records — a one-rule query over a
        # 10k-series farm decodes the rule's series, not the farm
        self.last_select = (
            {"__name__": sorted(names)} if names else None
        )
        self.last_farm_selects = [
            (parent, sorted(sel) if sel else None)
            for parent, sel in farm_selects
        ]
        frames = []
        n_dirs = 0
        for parent, sel in farm_selects:
            dirs = []
            for d, mint, maxt in self._farm_blocks(parent):
                # meta maxTime is exclusive
                if window is None or (
                    mint <= window[1] and maxt > window[0]
                ):
                    dirs.append(d)
            n_dirs += len(dirs)
            if dirs:
                frames.append(
                    blocks_to_chunk_frame(
                        self._spark, dirs, self._labels,
                        tombstones=self._tombstones,
                        select=(
                            {"__name__": sorted(sel)} if sel else None
                        ),
                        window=window,
                    )
                )
        self.last_blocks_read = n_dirs
        if frames:
            frame = frames[0]
            for other in frames[1:]:
                frame = frame.unionByName(other)
            samples = chunks_to_samples(frame, self._labels)
        else:
            samples = self._spark.createDataFrame(
                [],
                ", ".join(f"`{c}` string" for c in self._labels)
                + ", ts long, value double",
            )
        eng = _PreRoutedEngine(samples, routed, **self._engine_kwargs)
        return eng.query_range(
            promql, start_ms, end_ms, step_ms, lookback_ms=lookback_ms
        )

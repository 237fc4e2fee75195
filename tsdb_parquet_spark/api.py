"""Prometheus HTTP query API (``/api/v1/*``) + ``/federate`` over the
PromQL engine.

The read-side twin of `sources/remote_write_server.py`: a loopback
stdlib HTTP server exposing the public Prometheus query API so the full
loop — remote-write/OTLP/scrape push in, PromQL + metadata queries out
over a REAL socket — runs offline.  The reference stops at the storage
layer and delegates querying to an embedded Prometheus
(`prometheus/querier.go:80-88`); this module IS that delegated surface,
re-expressed over the Spark engine.

Endpoints (public Prometheus HTTP API spec, api/v1):

* ``GET/POST /api/v1/query``        — instant query (vector or scalar)
* ``GET/POST /api/v1/query_range``  — range query (matrix)
* ``GET/POST /api/v1/series``       — series enumeration for match[] selectors
* ``GET/POST /api/v1/labels``       — label names
* ``GET /api/v1/label/<n>/values``  — label values
* ``GET /api/v1/query_exemplars``   — exemplars for a selector (needs a store)
* ``GET /api/v1/metadata``          — metric metadata
* ``GET /api/v1/status/tsdb``       — cardinality statistics
* ``POST /api/v1/read``             — Prometheus remote-READ (snappy
  prompb; `remote_read.serve_read_request`) so a real Prometheus can
  federate queries into the store
* ``GET /federate``                 — latest-sample exposition text for
  match[] selectors (the Prometheus federation scrape surface), rendered
  through `scrape.format_exposition` so ``parse_exposition`` round-trips
  it bit-exactly; ``external_labels`` stamped where a series lacks them
* ``GET/POST /api/v1/rules``        — rule groups (config; live alert
  state with the engine's explicit ``time`` param)
* ``POST /api/v1/admin/tsdb/*``     — delete_series / snapshot /
  clean_tombstones (enabled by ``admin_store``, like
  ``--web.enable-admin-api``; delete_series is the surgical store
  rewrite `sources.maintenance.delete_samples`, and the serving engine
  rebuilds afterward so deletions are immediately queryable).

Wire-format parity, deliberately pinned:

* sample VALUES are JSON strings in Go ``strconv.FormatFloat(v, 'f',
  -1, 64)`` form (shortest round-trip digits, positional notation —
  ``model.SampleValue.String()``), so ``"NaN"``/``"+Inf"`` survive JSON
  and a Go client reparses bit-exact floats;
* TIMESTAMPS are JSON numbers in seconds at millisecond precision
  (Prometheus renders ms-resolution times; ``round(ts*1000)`` recovers
  the engine's integer milliseconds exactly);
* error envelopes are ``{"status":"error","errorType":...,"error":...}``
  with HTTP 400 for bad input, matching promtool expectations.

Scale shape: one HTTP request = one engine evaluation; result size is
grid-bounded (steps x series), never sample-bounded, so the collect
into JSON is the same bounded materialization every Prometheus API
implementation performs.  The SERVER is test/dev scale (stdlib,
loopback) — production is any HTTP frontend calling the same
``render_*`` functions against the engine, the boundary
`sources/remote_write_server.py` documents for the push path.
"""

from __future__ import annotations

import json
import threading
import urllib.parse
import urllib.request
from datetime import datetime, timezone
from functools import reduce
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsdb_parquet_spark.names import escape_name, unescape_name
from tsdb_parquet_spark.operators.selection import Matcher
from tsdb_parquet_spark.plans.promql import (
    DEFAULT_LOOKBACK_MS,
    PromExpr,
    _api_value,
    parse_duration_ms,
    parse_promql,
    to_api_instant_response,
    to_api_response,
)
from tsdb_parquet_spark.scrape import format_exposition

__all__ = [
    "PromApiServer",
    "format_sample_value",
    "matrix_result",
    "vector_result",
    "series_result",
    "exemplars_result",
    "metadata_result",
    "tsdb_status_result",
    "rules_result",
    "render_federate",
    "parse_match_selectors",
    "api_query_range_rows",
    "api_get_json",
]


def format_sample_value(v: float) -> str:
    """Go ``strconv.FormatFloat(v, 'f', -1, 64)``: shortest round-trip
    digits, POSITIONAL notation at any magnitude (the exponent-switching
    twin is `histograms.format_le`).  This is exactly
    ``model.SampleValue.String()`` — the string form every Prometheus
    API response carries sample values in.  Delegates to the CLI's
    `plans.promql._api_value` so the socket server and ``cli promql
    --api-json`` can never drift apart."""
    return _api_value(float(v))


def _ts_json(ts_ms: int) -> float:
    """Millisecond timestamp as the JSON seconds number Prometheus emits
    (ms precision; ``round(x * 1000)`` recovers the integer ms)."""
    return round(int(ts_ms) / 1000.0, 3)


def _parse_time_ms(raw: str) -> int:
    """``time``/``start``/``end`` params: unix seconds (float) or
    RFC 3339, to engine milliseconds."""
    try:
        return round(float(raw) * 1000)
    except ValueError:
        pass
    text = raw.replace("Z", "+00:00") if raw.endswith("Z") else raw
    dt = datetime.fromisoformat(text)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return round(dt.timestamp() * 1000)


def _parse_step_ms(raw: str) -> int:
    """``step`` param: float seconds or a PromQL duration string."""
    try:
        ms = round(float(raw) * 1000)
    except ValueError:
        ms = parse_duration_ms(raw)
    if ms <= 0:
        raise ValueError(f"zero or negative step {raw!r}")
    return ms


def _metric_of(row: dict, label_cols: Sequence[str]) -> dict[str, str]:
    """The ``metric`` object: label -> value, absent (``""``) labels
    omitted — the store's ""-is-absent convention crossing back to the
    Prometheus labelset model.  ``U__`` value-encoded columns render
    as their raw UTF-8 label names (`names.py`)."""
    return {
        unescape_name(c): row[c]
        for c in label_cols
        if row[c] not in ("", None)
    }


def matrix_result(df: DataFrame) -> list[dict]:
    """``resultType: matrix`` payload from a ``query_range`` frame —
    the CLI's `plans.promql.to_api_response` renderer; collect is
    grid-bounded by construction."""
    return to_api_response(df)["data"]["result"]


def vector_result(df: DataFrame, node=None) -> list[dict]:
    """``resultType: vector`` payload — the frame must hold one step
    (`plans.promql.to_api_instant_response`); ``node`` is the parsed
    query, whose top-level ``sort*`` orders the samples."""
    return to_api_instant_response(df, node=node)["data"]["result"]


def parse_match_selectors(
    selectors: Sequence[str], metric_label: str, param: str = "match[]"
) -> list[list[Matcher]]:
    """The matchers of each ``match[]`` selector — the one parser behind
    series, labels, label values, federate, ``query_exemplars``, admin
    ``delete_series`` and ``cli exemplars``.  Like Prometheus's
    ``ParseMetricSelector`` it accepts a plain instant selector only: a
    function, aggregation, ``offset`` or ``@`` is bad input, never
    silently dropped."""
    out = []
    for raw in selectors:
        node = parse_promql(raw)
        if (
            not isinstance(node, PromExpr)
            or node.func
            or node.agg
            or node.offset_ms
            or node.at_ms is not None
        ):
            raise ValueError(f"{param} must be a plain selector: {raw!r}")
        matchers = list(node.matchers)
        if node.metric:
            matchers.append(Matcher(metric_label, "=", node.metric))
        out.append(matchers)
    return out


def _match_frame(
    engine,
    selectors: Sequence[str],
    start_ms: int | None,
    end_ms: int | None,
    values: bool = False,
) -> DataFrame:
    """Samples matching ANY of the ``match[]`` selectors (every sample
    when there are none) inside [start, end] — the shared core of
    series/labels/values/federate, one `PromQLEngine.matched_samples`
    per selector.

    ``values=True`` marks a VALUE-returning caller (federate): the
    engine's per-query transform (e.g. the replica winner vote) runs
    with these exact bounds so exported samples match what the query
    endpoints serve.  The default serves series/label METADATA, where
    the transform contract guarantees the answer is identical without
    the per-row work — only the transformed schema is projected.  A
    shared-scan engine (the server default) serves both from its
    checkpointed working set; a plain engine keeps the fully
    pushed-down scan."""
    frames = [
        engine.matched_samples(m, start_ms, end_ms, metadata=not values)
        for m in parse_match_selectors(selectors, engine.metric_label)
        or [[]]
    ]
    return reduce(DataFrame.unionByName, frames)


def series_result(
    engine,
    selectors: Sequence[str],
    start_ms: int | None = None,
    end_ms: int | None = None,
) -> list[dict[str, str]]:
    """``/api/v1/series``: distinct labelsets with any in-range sample.
    One distinct over the label columns (map-side combined); the union
    across selectors dedups in the same shuffle."""
    df = _match_frame(engine, selectors, start_ms, end_ms)
    cols = list(engine.label_columns)
    rows = df.select(*cols).dropDuplicates(cols).collect()
    out = [_metric_of(r.asDict(), cols) for r in rows]
    out.sort(key=lambda m: sorted(m.items()))
    return out


def labels_result(
    engine,
    selectors: Sequence[str] = (),
    start_ms: int | None = None,
    end_ms: int | None = None,
) -> list[str]:
    """``/api/v1/labels``: names with >=1 non-empty value in range —
    one all-labels aggregate, the `querier.label_names` plan."""
    df = _match_frame(engine, selectors, start_ms, end_ms)
    cols = list(engine.label_columns)
    agg = df.agg(
        *[F.max(F.col(c) != F.lit("")).alias(c) for c in cols]
    ).collect()[0]
    return sorted(unescape_name(c) for c in cols if agg[c])


def label_values_result(
    engine,
    name: str,
    selectors: Sequence[str] = (),
    start_ms: int | None = None,
    end_ms: int | None = None,
) -> list[str]:
    """``/api/v1/label/<name>/values``: sorted distinct non-empty
    values.  A UTF-8 ``name`` resolves to its U__ column."""
    name = escape_name(name)
    df = _match_frame(engine, selectors, start_ms, end_ms)
    if name not in df.columns:
        return []
    rows = (
        df.select(name)
        .where(F.col(name) != F.lit(""))
        .distinct()
        .collect()
    )
    return sorted(r[0] for r in rows)


def exemplars_result(df: DataFrame) -> list[dict]:
    """``/api/v1/query_exemplars`` response body from a
    `sources.exemplars.select_exemplars` frame: exemplars grouped per
    series, value strings in Go-'f' form, timestamps in seconds —
    shared by the socket server and ``cli exemplars --api-json`` so the
    two renderings cannot drift."""
    label_cols = [
        c for c in df.columns if c not in ("ts", "value", "exemplar_labels")
    ]
    by_series: dict[tuple, list] = {}
    for row in df.collect():
        # U__ columns render back as their raw UTF-8 label names
        key = tuple(
            (unescape_name(c), row[c]) for c in label_cols if row[c]
        )
        by_series.setdefault(key, []).append(row)
    result = []
    for key, series_rows in sorted(by_series.items()):
        result.append(
            {
                "seriesLabels": dict(key),
                "exemplars": [
                    {
                        "labels": dict(r["exemplar_labels"] or {}),
                        "value": _api_value(float(r["value"])),
                        "timestamp": r["ts"] / 1000.0,
                    }
                    for r in sorted(series_rows, key=lambda r: r["ts"])
                ],
            }
        )
    return result


def metadata_result(
    metadata: Sequence[tuple],
    metric: str | None = None,
    limit: int | None = None,
) -> dict[str, list[dict]]:
    """``/api/v1/metadata``: metric -> [{type, help, unit}] from the
    server's ``[(metric, type, help[, unit]), ...]`` metadata tuples
    (unit optional for backward compatibility — WAL metadata records
    carry one, hand-written --metadata files may not)."""
    out: dict[str, list[dict]] = {}
    for entry in metadata:
        name, mtype, mhelp = entry[0], entry[1], entry[2]
        unit = entry[3] if len(entry) > 3 else ""
        if metric is not None and name != metric:
            continue
        out.setdefault(name, []).append(
            {"type": mtype, "help": mhelp, "unit": unit}
        )
    if limit is not None:
        out = dict(list(sorted(out.items()))[: max(0, limit)])
    return out


def tsdb_status_result(engine, limit: int = 10) -> dict:
    """``/api/v1/status/tsdb``: cardinality statistics over the engine's
    samples frame — ``headStats`` plus the four top-N sections of the
    public response.  Three aggregate jobs, each a single shuffle over
    the DISTINCT-SERIES frame (one row per series, never per sample):
    the melt-and-count plan `querier.tsdb_stats` uses, widened to
    per-pair counts.  ``memoryInBytesByLabelName`` counts the bytes of
    each label's distinct values (the storage-agnostic reading of
    Prometheus's head-memory stat); ``chunkCount`` is 0 — a Parquet
    store has no head chunks."""
    from itertools import chain

    cols = list(engine.label_columns)
    samples = engine.metadata_frame()
    series = samples.select(*cols).dropDuplicates(cols)

    head = samples.agg(
        F.countDistinct(*cols).alias("num_series"),
        F.min("ts").alias("min_t"),
        F.max("ts").alias("max_t"),
    ).collect()[0]

    by_metric = [
        {"name": r["name"] or "", "value": r["n"]}
        for r in series.groupBy(
            F.col(engine.metric_label).alias("name")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "name")
        .limit(limit)
        .collect()
    ]

    # melt under the RAW label names so the stats sections report
    # dotted names, not their U__ column forms
    kv = F.create_map(
        *chain.from_iterable(
            (F.lit(unescape_name(c)), F.col(c)) for c in cols
        )
    )
    pairs = series.select(F.explode(kv).alias("__lbl", "__val")).filter(
        F.col("__val") != F.lit("")
    )
    pair_counts = (
        pairs.groupBy("__lbl", "__val")
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    by_pair = [
        {"name": f'{r["__lbl"]}={r["__val"]}', "value": r["n"]}
        for r in pair_counts.orderBy(
            F.desc("n"), "__lbl", "__val"
        )
        .limit(limit)
        .collect()
    ]
    per_label = (
        pair_counts.groupBy("__lbl")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.sum(F.length("__val")).alias("bytes"),
        )
        .collect()
    )
    pair_counts.unpersist(blocking=False)
    per_label.sort(key=lambda r: (-r["n_values"], r["__lbl"]))
    by_label = [
        {"name": r["__lbl"], "value": r["n_values"]}
        for r in per_label[:limit]
    ]
    by_bytes = sorted(per_label, key=lambda r: (-r["bytes"], r["__lbl"]))
    mem_by_label = [
        {"name": r["__lbl"], "value": int(r["bytes"])}
        for r in by_bytes[:limit]
    ]
    return {
        "headStats": {
            "numSeries": head["num_series"],
            "numLabelPairs": sum(r["n_values"] for r in per_label),
            "chunkCount": 0,
            "minTime": head["min_t"],
            "maxTime": head["max_t"],
        },
        "seriesCountByMetricName": by_metric,
        "labelValueCountByLabelName": by_label,
        "memoryInBytesByLabelName": mem_by_label,
        "seriesCountByLabelValuePair": by_pair,
    }


def render_federate(
    engine,
    selectors: Sequence[str],
    time_ms: int,
    lookback_ms: int = DEFAULT_LOOKBACK_MS,
    metadata: Sequence[tuple[str, str, str]] = (),
    external_labels: dict | None = None,
) -> str:
    """``/federate``: the most recent sample per matched series within
    the staleness lookback of ``time_ms``, as exposition text carrying
    the ORIGINAL sample timestamps (federation's untyped re-scrape
    contract; Prometheus marks federated metrics ``# TYPE ... untyped``
    unless metadata is supplied).  ``external_labels`` stamp onto every
    exported series that does not already carry the label — exactly
    Prometheus's federation rule (a series' own label always wins), so
    a downstream scraper can tell which server a series came from.

    Plan: matcher-filtered scan -> one groupBy over the label columns
    with ``max(struct(ts, value))`` (map-side combined, deterministic on
    ties) -> grid-bounded collect for text rendering."""
    df = _match_frame(
        engine, selectors, time_ms - lookback_ms + 1, time_ms,
        values=True,
    )
    cols = list(engine.label_columns)
    latest = (
        df.groupBy(*cols)
        .agg(F.max(F.struct("ts", "value")).alias("last"))
        .select(*cols, F.col("last.ts").alias("ts"), F.col("last.value").alias("value"))
    )
    rows = latest.collect()
    samples = []
    for r in rows:
        d = r.asDict()
        labels = _metric_of(d, cols)
        if engine.metric_label != "__name__":
            labels["__name__"] = labels.pop(engine.metric_label, "")
        for k, v in (external_labels or {}).items():
            labels.setdefault(k, v)
        samples.append((labels, d["value"], int(d["ts"])))
    samples.sort(key=lambda s: sorted(s[0].items()))
    return format_exposition(samples, metadata)


def rules_result(
    engine,
    groups,
    time_ms: int | None = None,
    lookback_ms: int = DEFAULT_LOOKBACK_MS,
    type_filter: str | None = None,
) -> dict:
    """``/api/v1/rules`` payload (the Prometheus rules API shape
    promtool and Grafana read).  Without ``time_ms``: configuration
    only — rules listed with state ``inactive`` and no alerts (this
    offline server has no background evaluation loop, exactly like the
    query endpoints demanding an explicit ``time``).  With ``time_ms``
    (engine extension: the ``time`` query param): each alerting rule's
    state machine evaluates over a window long enough to resolve
    ``for`` + ``keep_firing_for`` at the group's interval, and the
    response carries live per-series alerts (state, ActiveAt, value)
    plus the rule-level state (firing > pending > inactive)."""
    from tsdb_parquet_spark.rules import AlertingRule, RecordingRule
    from tsdb_parquet_spark.rules import evaluate_alerting_rule

    out_groups = []
    for g in groups:
        rules_json = []
        for rule in g.rules:
            if isinstance(rule, RecordingRule):
                if type_filter == "alert":
                    continue
                rules_json.append({
                    "type": "recording",
                    "name": rule.record,
                    "query": rule.expr,
                    "labels": dict(rule.labels),
                    "health": "ok",
                    "evaluationTime": 0.0,
                    "lastEvaluation": "0001-01-01T00:00:00Z",
                })
                continue
            if not isinstance(rule, AlertingRule) or type_filter == "record":
                continue
            entry = {
                "type": "alerting",
                "name": rule.alert,
                "query": rule.expr,
                "duration": rule.for_ms / 1000.0,
                "keepFiringFor": rule.keep_firing_for_ms / 1000.0,
                "labels": dict(rule.labels),
                "annotations": {},
                "alerts": [],
                "state": "inactive",
                "health": "ok",
                "evaluationTime": 0.0,
                "lastEvaluation": "0001-01-01T00:00:00Z",
            }
            if time_ms is not None:
                # window long enough that an island clipped at the
                # window start still ages past `for` (+ the hold), so
                # the state at time_ms equals the unbounded machine's
                span = (
                    rule.for_ms + rule.keep_firing_for_ms
                    + 2 * g.interval_ms
                )
                steps = -(-span // g.interval_ms)  # ceil
                start = time_ms - steps * g.interval_ms
                frame = evaluate_alerting_rule(
                    engine, rule, start, time_ms, g.interval_ms,
                    lookback_ms=lookback_ms,
                )
                rows = [
                    r.asDict()
                    for r in frame.filter(
                        F.col("t") == F.lit(int(time_ms))
                    ).collect()
                ]
                label_cols = [
                    c for c in (rows[0] if rows else {})
                    if c not in ("t", "value", "alertstate", "active_at")
                ]
                for r in sorted(
                    rows, key=lambda d: sorted(
                        (c, d[c] or "") for c in label_cols
                    )
                ):
                    labels = {
                        unescape_name(c): r[c] for c in label_cols
                        if r[c] not in ("", None)
                    }
                    labels.setdefault("alertname", rule.alert)
                    entry["alerts"].append({
                        "labels": labels,
                        "annotations": {},
                        "state": r["alertstate"],
                        "activeAt": datetime.fromtimestamp(
                            r["active_at"] / 1000.0, tz=timezone.utc
                        ).isoformat().replace("+00:00", "Z"),
                        "value": format_sample_value(r["value"]),
                    })
                states = {a["state"] for a in entry["alerts"]}
                entry["state"] = (
                    "firing" if "firing" in states
                    else "pending" if "pending" in states
                    else "inactive"
                )
            rules_json.append(entry)
        out_groups.append({
            "name": g.name,
            "file": "",
            "interval": g.interval_ms / 1000.0,
            "limit": 0,
            "rules": rules_json,
            "evaluationTime": 0.0,
            "lastEvaluation": "0001-01-01T00:00:00Z",
        })
    return {"groups": out_groups}


class PromApiServer:
    """Loopback Prometheus query-API server over a `PromQLEngine`.

    >>> with PromApiServer(engine) as url:
    ...     urllib.request.urlopen(url + "/api/v1/labels")

    ``metadata`` (``[(metric, type, help), ...]``) is rendered into
    ``/federate`` output.  Context-manager enter binds an ephemeral
    loopback port and returns the base URL."""

    def __init__(
        self,
        engine,
        lookback_ms: int = DEFAULT_LOOKBACK_MS,
        metadata: Sequence[tuple[str, str, str]] = (),
        exemplar_store: str | None = None,
        external_labels: dict | None = None,
        rule_groups=(),
        admin_store: str | None = None,
        admin_label_names: Sequence[str] | None = None,
        samples_factory=None,
    ):
        self.engine = engine
        self.lookback_ms = lookback_ms
        self.metadata = list(metadata)
        #: path of a `sources.exemplars` store; enables
        #: ``/api/v1/query_exemplars`` (404 without one)
        self.exemplar_store = exemplar_store
        #: stamped onto /federate output where the series lacks the
        #: label (prometheus.yml `global.external_labels`)
        self.external_labels = dict(external_labels or {})
        #: `rules.RuleGroup`s listed (and state-evaluated on demand)
        #: by /api/v1/rules
        self.rule_groups = list(rule_groups)
        #: writer ROOT the TSDB admin API rewrites (None = admin
        #: endpoints disabled, Prometheus's default without
        #: --web.enable-admin-api — they answer 403)
        self.admin_store = admin_store
        self.admin_label_names = (
            list(admin_label_names) if admin_label_names else None
        )
        #: zero-arg callable rebuilding the serving samples frame; after
        #: a successful delete_series the engine is reconstructed from
        #: it so the deletion is visible WITHOUT a server restart (the
        #: old engine's plan pins the pre-delete snapshot's directories)
        self.samples_factory = samples_factory
        #: epoch seconds of start() — /api/v1/status/runtimeinfo
        self._started_at = 0.0
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None
        #: serializes delete_series' store rewrite and engine swap.
        #: Query handlers never take it: each reads ``self.engine``
        #: once, and the old engine's snapshot stays readable until
        #: ``vacuum_snapshots``.
        self._admin_lock = threading.Lock()

    # -- request handling (pure: params dict -> (http status, body)) --

    def _handle(self, path: str, params: dict[str, list[str]]):
        def p(name: str, default: str | None = None) -> str | None:
            vals = params.get(name)
            return vals[0] if vals else default

        eng = self.engine
        if path == "/api/v1/query":
            expr = p("query")
            if expr is None:
                raise ValueError("missing query parameter")
            raw_t = p("time")
            if raw_t is None:
                raise ValueError(
                    "missing time parameter (this offline server has no "
                    "wall-clock 'now')"
                )
            t = _parse_time_ms(raw_t)
            node = parse_promql(expr)
            if isinstance(node, (int, float)):
                data = {
                    "resultType": "scalar",
                    "result": [_ts_json(t), format_sample_value(node)],
                }
                return data
            df = eng.query_range(expr, t, t, 1, lookback_ms=self.lookback_ms)
            return {"resultType": "vector", "result": vector_result(df, node)}
        if path == "/api/v1/query_range":
            expr = p("query")
            missing = [
                n for n in ("query", "start", "end", "step") if p(n) is None
            ]
            if missing:
                raise ValueError(f"missing parameter(s): {', '.join(missing)}")
            start = _parse_time_ms(p("start"))
            end = _parse_time_ms(p("end"))
            step = _parse_step_ms(p("step"))
            if end < start:
                raise ValueError("end < start")
            df = eng.query_range(
                expr, start, end, step, lookback_ms=self.lookback_ms
            )
            return {"resultType": "matrix", "result": matrix_result(df)}
        if path == "/api/v1/query_exemplars":
            if self.exemplar_store is None:
                return None  # endpoint absent without a store, like 2.x
            missing = [
                n for n in ("query", "start", "end") if p(n) is None
            ]
            if missing:
                raise ValueError(f"missing parameter(s): {', '.join(missing)}")
            [matchers] = parse_match_selectors(
                [p("query")], eng.metric_label, param="query"
            )
            from tsdb_parquet_spark.sources.exemplars import select_exemplars

            df = select_exemplars(
                eng.samples.sparkSession,
                self.exemplar_store,
                matchers,
                _parse_time_ms(p("start")),
                _parse_time_ms(p("end")),
            )
            return exemplars_result(df)
        if path == "/api/v1/metadata":
            raw_limit = p("limit")
            return metadata_result(
                self.metadata,
                metric=p("metric"),
                limit=int(raw_limit) if raw_limit is not None else None,
            )
        if path == "/api/v1/status/tsdb":
            return tsdb_status_result(eng)
        if path == "/api/v1/rules":
            raw_t = p("time")
            if raw_t is None:
                # config-only listing touches no engine state
                return rules_result(
                    eng, self.rule_groups, type_filter=p("type")
                )
            # live state evaluation runs query_range per alerting rule
            return rules_result(
                eng,
                self.rule_groups,
                time_ms=_parse_time_ms(raw_t),
                lookback_ms=self.lookback_ms,
                type_filter=p("type"),
            )
        if path == "/api/v1/status/buildinfo":
            # the probe Grafana's Prometheus datasource health check
            # issues; shaped like a Prometheus response with the engine
            # identified honestly in application/features
            return {
                "version": "2.55.0",
                "revision": "tsdb-parquet-spark",
                "branch": "",
                "buildUser": "",
                "buildDate": "",
                "goVersion": "",
                "features": {"storage": "parquet+spark"},
            }
        if path == "/api/v1/status/flags":
            # the flag names Grafana/automation read most; values state
            # this server's actual behavior
            return {
                "query.lookback-delta": f"{self.lookback_ms // 1000}s",
                "web.enable-admin-api": str(
                    self.admin_store is not None
                ).lower(),
                "web.enable-remote-write-receiver": "false",
                "storage.tsdb.path": self.admin_store or "",
            }
        if path == "/api/v1/status/runtimeinfo":
            import os as _os
            import time as _time

            return {
                "startTime": datetime.fromtimestamp(
                    self._started_at, tz=timezone.utc
                ).isoformat().replace("+00:00", "Z"),
                "CWD": _os.getcwd(),
                "reloadConfigSuccess": True,
                "lastConfigTime": datetime.fromtimestamp(
                    self._started_at, tz=timezone.utc
                ).isoformat().replace("+00:00", "Z"),
                "corruptionCount": 0,
                "goroutineCount": threading.active_count(),
                "GOMAXPROCS": _os.cpu_count() or 1,
                "GOGC": "",
                "GODEBUG": "",
                "storageRetention": "",
            }
        start = _parse_time_ms(p("start")) if p("start") else None
        end = _parse_time_ms(p("end")) if p("end") else None
        match = params.get("match[]", [])
        # Prometheus `limit` semantics: 0 = disabled, truncate otherwise
        raw_limit = p("limit")
        limit = int(raw_limit) if raw_limit else 0

        def clip(items):
            return items[:limit] if limit > 0 else items

        if path == "/api/v1/series":
            if not match:
                raise ValueError("no match[] parameter provided")
            return clip(series_result(eng, match, start, end))
        if path == "/api/v1/labels":
            return clip(labels_result(eng, match, start, end))
        if path.startswith("/api/v1/label/") and path.endswith("/values"):
            name = urllib.parse.unquote(
                path[len("/api/v1/label/") : -len("/values")]
            )
            return clip(label_values_result(eng, name, match, start, end))
        return None

    def _handle_admin(
        self, path: str, params: dict[str, list[str]], method: str
    ) -> tuple[int, bytes, str, dict]:
        """The TSDB admin API (``/api/v1/admin/tsdb/*`` — Prometheus
        gates these behind ``--web.enable-admin-api``; here behind
        ``admin_store``):

        * ``delete_series`` — one store-side surgical rewrite per
          ``match[]`` selector (`sources.maintenance.delete_samples`:
          pushdown probe -> only touched directories rewrite ->
          snapshot publish), bounded by optional ``start``/``end``;
          204 on success like upstream, with the deleted-sample count
          in an ``X-Deleted-Samples`` header since the body must be
          empty.  The serving engine rebuilds from ``samples_factory``
          under the engine lock so the deletion is immediately
          queryable.
        * ``clean_tombstones`` — 204 no-op: deletion here rewrites
          eagerly (parquet has no tombstone files to clean); kept so
          upstream automation scripts run unmodified.
        * ``snapshot`` — returns the store's CURRENT published
          snapshot manifest version: this store snapshots on every
          write (manifest-pinned live sets), so "take a snapshot"
          means "name the one you are on".
        """
        err_ctype = "application/json"

        def envelope(status, etype, msg):
            return (
                status,
                json.dumps(
                    {"status": "error", "errorType": etype, "error": msg}
                ).encode(),
                err_ctype,
                {},
            )

        if self.admin_store is None:
            return envelope(
                403, "unavailable",
                "admin APIs disabled (server started without an "
                "admin store)",
            )
        if method not in ("POST", "PUT"):
            return envelope(
                405, "method_not_allowed",
                f"{path} only allows POST",
            )
        if path == "/api/v1/admin/tsdb/clean_tombstones":
            return 204, b"", err_ctype, {}
        if path == "/api/v1/admin/tsdb/snapshot":
            from tsdb_parquet_spark.sources.manifest import (
                current_snapshot,
            )

            snap = current_snapshot(self.admin_store)
            if snap is None:
                raise ValueError("store has never published a snapshot")
            return (
                200,
                json.dumps(
                    {
                        "status": "success",
                        "data": {"name": f"{snap.version:08d}"},
                    }
                ).encode(),
                err_ctype,
                {},
            )
        if path != "/api/v1/admin/tsdb/delete_series":
            return envelope(404, "not_found", f"unknown path {path}")

        from tsdb_parquet_spark.sources.maintenance import delete_samples

        selectors = params.get("match[]", [])
        if not selectors:
            raise ValueError("no match[] parameter provided")
        raw_start = params.get("start", [None])[0]
        raw_end = params.get("end", [None])[0]
        mint = _parse_time_ms(raw_start) if raw_start is not None else 0
        maxt = (
            _parse_time_ms(raw_end) if raw_end is not None else (1 << 62)
        )
        matcher_sets = parse_match_selectors(
            selectors, self.engine.metric_label
        )
        spark = self.engine.samples.sparkSession
        deleted = 0
        with self._admin_lock:
            for matchers in matcher_sets:
                rep = delete_samples(
                    spark,
                    self.admin_store,
                    matchers,
                    mint=mint,
                    maxt=maxt,
                    label_names=self.admin_label_names,
                )
                deleted += int(rep.get("samples_deleted", 0))
            if deleted and self.samples_factory is not None:
                from tsdb_parquet_spark.plans.promql import PromQLEngine

                old = self.engine
                self.engine = PromQLEngine(
                    self.samples_factory(),
                    metric_label=old.metric_label,
                    extrapolate=old.extrapolate,
                    shared_scan=old._shared_scan,
                    samples_transform=old.samples_transform,
                )
        # 204 bodies must be empty: the count rides a header
        return 204, b"", err_ctype, {"X-Deleted-Samples": str(deleted)}

    def _handle_federate(self, params: dict[str, list[str]]) -> str:
        match = params.get("match[]", [])
        if not match:
            raise ValueError("no match[] parameter provided")
        raw_t = params.get("time", [None])[0]
        if raw_t is None:
            raise ValueError(
                "missing time parameter (this offline server has no "
                "wall-clock 'now')"
            )
        return render_federate(
            self.engine,
            match,
            _parse_time_ms(raw_t),
            self.lookback_ms,
            self.metadata,
            external_labels=self.external_labels,
        )

    # -- plumbing --

    def start(self) -> str:
        outer = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, *args) -> None:  # quiet
                pass

            def _params(
                self,
            ) -> tuple[str, dict[str, list[str]], bytes]:
                parsed = urllib.parse.urlsplit(self.path)
                params = urllib.parse.parse_qs(parsed.query)
                length = int(self.headers.get("Content-Length", "0") or 0)
                raw = b""
                if length and "form-urlencoded" in (
                    self.headers.get("Content-Type") or ""
                ):
                    body = self.rfile.read(length).decode()
                    for k, vs in urllib.parse.parse_qs(body).items():
                        params.setdefault(k, []).extend(vs)
                elif length:
                    raw = self.rfile.read(length)
                return parsed.path.rstrip("/") or "/", params, raw

            def _send(self, status: int, body: bytes, ctype: str) -> None:
                self.send_response(status)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _serve(self) -> None:
                path, params, raw = self._params()
                try:
                    if path in ("/-/healthy", "/-/ready"):
                        # lifecycle probes (Prometheus serves plain text)
                        word = "Healthy" if path == "/-/healthy" else "Ready"
                        self._send(
                            200,
                            f"{word}.\n".encode(),
                            "text/plain; charset=utf-8",
                        )
                        return
                    if path == "/api/v1/read":
                        # prompb remote-read: snappy protobuf in; the
                        # response type follows the client's
                        # accepted_response_types negotiation
                        from tsdb_parquet_spark.remote_read import (
                            CONTENT_TYPE_STREAMED,
                            STREAMED_XOR_CHUNKS,
                            read_request_accepted_types,
                            serve_read_request,
                            serve_read_request_streamed,
                        )
                        from tsdb_parquet_spark.remote_write import (
                            unframe_payload,
                        )

                        accepted = read_request_accepted_types(
                            unframe_payload(raw)
                        )
                        if STREAMED_XOR_CHUNKS in accepted:
                            # streamed frames: no Content-Length — the
                            # body ends when the connection closes,
                            # like Prometheus's chunked writer
                            self.send_response(200)
                            self.send_header(
                                "Content-Type", CONTENT_TYPE_STREAMED
                            )
                            self.send_header("Connection", "close")
                            self.end_headers()
                            # headers are out: a mid-stream failure can
                            # no longer become a 500 envelope — falling
                            # through to _send() would write a second
                            # status line into the frame body.  Spark
                            # work happens between WHOLE-frame yields,
                            # so a bare close would usually land on a
                            # frame boundary and parse as a complete
                            # (shorter!) response — write a poison
                            # trailer instead: a nonzero uvarint length
                            # with no body, which every client rejects
                            # as a truncated chunked frame.  THAT is
                            # the loud error signal.
                            try:
                                for frame in serve_read_request_streamed(
                                    outer.engine, raw
                                ):
                                    self.wfile.write(frame)
                            except Exception as exc:
                                # log server-side before poisoning the
                                # stream — recurring executor failures
                                # must be visible beyond truncated
                                # client reads
                                import sys as _sys
                                import traceback as _tb

                                print(
                                    "streamed /api/v1/read died "
                                    f"mid-drain: {type(exc).__name__}: "
                                    f"{exc}",
                                    file=_sys.stderr,
                                )
                                _tb.print_exc(file=_sys.stderr)
                                try:
                                    self.wfile.write(b"\x7f")
                                except Exception:
                                    pass  # socket already gone
                            self.close_connection = True
                            return
                        resp = serve_read_request(outer.engine, raw)
                        self.send_response(200)
                        self.send_header(
                            "Content-Type", "application/x-protobuf"
                        )
                        self.send_header("Content-Encoding", "snappy")
                        self.send_header("Content-Length", str(len(resp)))
                        self.end_headers()
                        self.wfile.write(resp)
                        return
                    if path.startswith("/api/v1/admin/tsdb/"):
                        status, body, ctype, headers = (
                            outer._handle_admin(
                                path, params, self.command
                            )
                        )
                        self.send_response(status)
                        for k, v in headers.items():
                            self.send_header(k, v)
                        if status == 204:
                            # no body, no Content-Type on 204
                            self.send_header("Content-Length", "0")
                            self.end_headers()
                        else:
                            self.send_header("Content-Type", ctype)
                            self.send_header(
                                "Content-Length", str(len(body))
                            )
                            self.end_headers()
                            self.wfile.write(body)
                        return
                    if path == "/federate":
                        text = outer._handle_federate(params)
                        self._send(
                            200,
                            text.encode(),
                            "text/plain; version=0.0.4; charset=utf-8",
                        )
                        return
                    data = outer._handle(path, params)
                except ValueError as exc:
                    body = json.dumps(
                        {
                            "status": "error",
                            "errorType": "bad_data",
                            "error": str(exc),
                        }
                    ).encode()
                    self._send(400, body, "application/json")
                    return
                except Exception as exc:  # noqa: BLE001 — the client
                    # must see a Prometheus-style error envelope, not a
                    # dropped connection: queries that parse but fail
                    # analysis (AnalysisException), Py4J errors, bad
                    # exemplar stores (OSError) all land here
                    body = json.dumps(
                        {
                            "status": "error",
                            "errorType": "internal",
                            "error": f"{type(exc).__name__}: {exc}",
                        }
                    ).encode()
                    self._send(500, body, "application/json")
                    return
                if data is None:
                    self._send(
                        404,
                        json.dumps(
                            {
                                "status": "error",
                                "errorType": "not_found",
                                "error": f"unknown path {path}",
                            }
                        ).encode(),
                        "application/json",
                    )
                    return
                body = json.dumps({"status": "success", "data": data}).encode()
                self._send(200, body, "application/json")

            do_GET = _serve
            do_POST = _serve

        import time as _time

        self._started_at = _time.time()
        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self.url

    @property
    def url(self) -> str:
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}"

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None

    def __enter__(self) -> str:
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()


# -- client helpers (tests / corpus rows) --


def api_get_json(base_url: str, path: str, params: dict) -> dict:
    """GET ``base_url+path`` with urlencoded params (lists become
    repeated keys, the ``match[]`` convention); parsed JSON body."""
    pairs = []
    for k, v in params.items():
        for item in v if isinstance(v, (list, tuple)) else [v]:
            pairs.append((k, item))
    qs = urllib.parse.urlencode(pairs)
    with urllib.request.urlopen(f"{base_url}{path}?{qs}") as resp:
        return json.loads(resp.read().decode())


def api_query_range_rows(
    base_url: str,
    query: str,
    start_ms: int,
    end_ms: int,
    step_ms: int,
) -> list[tuple[int, dict[str, str], float]]:
    """Run ``/api/v1/query_range`` and decode the matrix back to
    ``[(t_ms, labels, value), ...]`` — the wire round-trip corpus rows
    hash-check (seconds -> ms via ``round``, value strings via
    ``float``, both exact by the format contracts above)."""
    payload = api_get_json(
        base_url,
        "/api/v1/query_range",
        {
            "query": query,
            "start": start_ms / 1000.0,
            "end": end_ms / 1000.0,
            "step": step_ms / 1000.0,
        },
    )
    if payload.get("status") != "success":
        raise RuntimeError(f"query_range failed: {payload}")
    rows = []
    for series in payload["data"]["result"]:
        labels = dict(series["metric"])
        for ts_s, val in series["values"]:
            rows.append((round(ts_s * 1000), labels, float(val)))
    return rows

"""OTLP metrics ingest (OpenTelemetry Protocol, HTTP/protobuf).

OTLP is the push protocol the OpenTelemetry SDKs and collector speak
natively, and Prometheus 3.x accepts on ``/api/v1/otlp/v1/metrics``;
covering it means a store can be fed straight from instrumented
applications with neither a Prometheus server nor a collector
remote-write exporter in between.  Like `remote_write.py`, the wire
format is decoded directly from the public protobuf spec
(opentelemetry-proto, ``opentelemetry/proto/metrics/v1/metrics.proto``
and ``collector/metrics/v1/metrics_service.proto``) — no generated
stubs, no protobuf dependency — and payload decode runs executor-side
(:func:`otlp_frame`, one ``mapInArrow`` over captured POST bodies).

Field numbers (from the public .proto files)::

    ExportMetricsServiceRequest { repeated ResourceMetrics resource_metrics = 1; }
    ResourceMetrics { Resource resource = 1; repeated ScopeMetrics scope_metrics = 2; }
    Resource        { repeated KeyValue attributes = 1; }
    ScopeMetrics    { InstrumentationScope scope = 1; repeated Metric metrics = 2; }
    Metric          { string name = 1; string description = 2; string unit = 3;
                      Gauge gauge = 5; Sum sum = 7; Histogram histogram = 9;
                      ExponentialHistogram exponential_histogram = 10;
                      Summary summary = 11; }
    Gauge           { repeated NumberDataPoint data_points = 1; }
    Sum             { repeated NumberDataPoint data_points = 1;
                      AggregationTemporality aggregation_temporality = 2;
                      bool is_monotonic = 3; }
    NumberDataPoint { fixed64 start_time_unix_nano = 2; fixed64 time_unix_nano = 3;
                      double as_double = 4; sfixed64 as_int = 6;
                      repeated KeyValue attributes = 7; uint32 flags = 8; }
    Histogram       { repeated HistogramDataPoint data_points = 1;
                      AggregationTemporality aggregation_temporality = 2; }
    HistogramDataPoint { fixed64 time_unix_nano = 3; fixed64 count = 4;
                      double sum = 5; repeated fixed64 bucket_counts = 6;
                      repeated double explicit_bounds = 7;
                      repeated KeyValue attributes = 9; uint32 flags = 10; }
    ExponentialHistogram { repeated ExponentialHistogramDataPoint data_points = 1;
                      AggregationTemporality aggregation_temporality = 2; }
    ExponentialHistogramDataPoint { repeated KeyValue attributes = 1;
                      fixed64 time_unix_nano = 3; fixed64 count = 4;
                      double sum = 5; sint32 scale = 6; fixed64 zero_count = 7;
                      Buckets positive = 8; Buckets negative = 9;
                      uint32 flags = 10; double zero_threshold = 14; }
    Buckets         { sint32 offset = 1; repeated uint64 bucket_counts = 2; }
    Summary         { repeated SummaryDataPoint data_points = 1; }
    SummaryDataPoint { fixed64 time_unix_nano = 3; fixed64 count = 4;
                      double sum = 5; repeated ValueAtQuantile quantile_values = 6;
                      repeated KeyValue attributes = 7; }
    ValueAtQuantile { double quantile = 1; double value = 2; }
    KeyValue        { string key = 1; AnyValue value = 2; }
    AnyValue        { string string_value = 1; bool bool_value = 2;
                      int64 int_value = 3; double double_value = 4; }

Translation to the engine's sample rows follows the public Prometheus
OTLP translation (``storage/remote/otlptranslator``) with one
documented simplification:

* metric/label names normalize ``[^a-zA-Z0-9_]`` to ``_`` (a leading
  digit gains a ``key_`` prefix on labels) under the default
  ``translation="underscores"``; ``translation="no_utf8_escaping"``
  (Prometheus 3.x ``NoUTF8EscapingWithSuffixes``) keeps names EXACTLY
  — suffixes still apply — and ``otlp_frame`` then stores label
  columns as their lossless ``U__`` value-encoded forms (`names.py`),
  queryable via the quoted selector syntax;
* monotonic CUMULATIVE sums gain the ``_total`` suffix; DELTA
  temporality sums/histograms are SKIPPED like Prometheus's default
  (delta has no sound cumulative reading) — unless
  ``otlp_frame(delta="convert")``, the Prometheus 3.x experimental
  delta->cumulative conversion: delta sum increments running-sum into
  a cumulative series frame-side (DELTA histograms stay skipped);
* a ``NumberDataPoint`` with the NO_RECORDED_VALUE flag (bit 0) is
  skipped (Prometheus writes a staleness marker; this decoder's
  consumers resolve staleness from sample absence);
* classic histograms expand to cumulative ``_bucket{le=}`` (+Inf from
  the overflow bucket) / ``_count`` / ``_sum``; exponential histograms
  map onto `histograms.NativeHistogram` (downscaling to schema <= 8 by
  pairwise bucket merge, exactly Prometheus's downscale) and ride the
  SAME classic expansion as WAL/remote-write native histograms;
  summaries expand to ``{quantile=}`` / ``_count`` / ``_sum``;
* ``service.name`` / ``service.namespace`` / ``service.instance.id``
  resource attributes map to ``job`` (namespace/name) and ``instance``
  like Prometheus; by DEFAULT the remaining resource attributes merge
  into every sample's labels (datapoint attributes win) so resource
  identity stays queryable without join-time machinery — pass
  ``resource_attrs="target_info"`` for the Prometheus 3.x behavior
  (samples carry only job/instance; leftovers land on a
  ``target_info`` info series, one sample per resource batch at its
  latest timestamp).
"""

from __future__ import annotations

import gzip as _gzip
import math
import re
import struct
from typing import Iterator, Sequence

from tsdb_parquet_spark.histograms import format_le
from tsdb_parquet_spark.remote_write import (
    _as_i64,
    _fields,
    _put_key,
    _put_len_delim,
    _read_uvarint,
)
from tsdb_parquet_spark.tsdb_wal import _put_uvarint

__all__ = [
    "decode_export_samples",
    "decode_export_samples_with_delta",
    "decode_export_exemplars",
    "encode_export_request",
    "otlp_frame",
    "otlp_exemplar_frame",
]

_DELTA = 1  # AggregationTemporality.DELTA
_CUMULATIVE = 2  # AggregationTemporality.CUMULATIVE
_NO_RECORDED_VALUE = 0x1

_BAD_CHARS = re.compile(r"[^a-zA-Z0-9_]")


def _norm_name(name: str) -> str:
    return _BAD_CHARS.sub("_", name) if name else name


def _norm_label(key: str) -> str:
    key = _BAD_CHARS.sub("_", key)
    if key and key[0].isdigit():
        key = "key_" + key
    return key


def _raw_name(name: str) -> str:
    """``translation="no_utf8_escaping"``: names pass through exactly
    (Prometheus 3.x ``NoUTF8EscapingWithSuffixes`` — suffixes like
    ``_total``/``_bucket`` are still appended by the callers)."""
    return name


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------


def _decode_any_value(data: bytes, pos: int, end: int) -> str:
    for field, wire, a, b in _fields(data, pos, end):
        if field == 1 and wire == 2:
            return data[a:b].decode("utf-8")
        if field == 2 and wire == 0:
            return "true" if a else "false"
        if field == 3 and wire == 0:
            return str(_as_i64(a))
        if field == 4 and wire == 1:
            # Go shortest-'g' formatting ('1', '1e+16'), matching the
            # Prometheus OTLP translation's strconv.FormatFloat and this
            # module's own le rendering — NOT Python repr ('1.0')
            return format_le(struct.unpack_from("<d", data, a)[0])
    return ""  # arrays / kvlists / bytes stringify as empty, documented


def _decode_attrs(data: bytes, spans, norm=None) -> dict[str, str]:
    norm = norm or _norm_label
    out: dict[str, str] = {}
    for pos, end in spans:
        key, val = "", ""
        for field, wire, a, b in _fields(data, pos, end):
            if field == 1 and wire == 2:
                key = data[a:b].decode("utf-8")
            elif field == 2 and wire == 2:
                val = _decode_any_value(data, a, b)
        if key:
            out[norm(key)] = val
    return out


def _packed_fixed64(data: bytes, a: int, b: int) -> list[int]:
    return [v[0] for v in struct.iter_unpack("<Q", data[a:b])]


def _packed_double(data: bytes, a: int, b: int) -> list[float]:
    return [v[0] for v in struct.iter_unpack("<d", data[a:b])]


def _f64(data: bytes, a: int) -> float:
    return struct.unpack_from("<d", data, a)[0]


def _q64(data: bytes, a: int) -> int:
    return struct.unpack_from("<Q", data, a)[0]


def _number_point(data: bytes, pos: int, end: int):
    """-> (attr_spans, ts_ms, value, flags) or None when no value set."""
    attrs = []
    ts = 0
    val = None
    flags = 0
    for field, wire, a, b in _fields(data, pos, end):
        if field == 3 and wire == 1:
            ts = _q64(data, a) // 1_000_000
        elif field == 4 and wire == 1:
            val = _f64(data, a)
        elif field == 6 and wire == 1:
            val = float(struct.unpack_from("<q", data, a)[0])
        elif field == 7 and wire == 2:
            attrs.append((a, b))
        elif field == 8 and wire == 0:
            flags = a
    return attrs, ts, val, flags


def _buckets(data: bytes, pos: int, end: int) -> tuple[int, list[int]]:
    offset = 0
    counts: list[int] = []
    for field, wire, a, b in _fields(data, pos, end):
        if field == 1 and wire == 0:
            offset = (a >> 1) ^ -(a & 1)  # sint32 zigzag
        elif field == 2 and wire == 2:
            p = a
            while p < b:
                v, p = _read_uvarint(data, p, b)
                counts.append(v)
        elif field == 2 and wire == 0:
            counts.append(a)
    return offset, counts


def _downscale(offset: int, counts: list[int], steps: int):
    """Merge exponential buckets pairwise ``steps`` times (index i at
    scale s -> ceil(i/2) at scale s-1), Prometheus's OTLP downscale."""
    idx_counts: dict[int, int] = {}
    for i, c in enumerate(counts):
        if c:
            idx = offset + 1 + i  # Buckets.offset is the LOWER edge index
            idx_counts[idx] = idx_counts.get(idx, 0) + c
    for _ in range(steps):
        merged: dict[int, int] = {}
        for idx, c in idx_counts.items():
            # ceil(idx/2) for any sign: python >> floors, so (idx+1)>>1
            merged[(idx + 1) >> 1] = merged.get((idx + 1) >> 1, 0) + c
        idx_counts = merged
    return idx_counts


def _exp_point_to_native(data: bytes, pos: int, end: int):
    """ExponentialHistogramDataPoint -> (attr_spans, ts_ms,
    NativeHistogram, flags) with downscale to schema <= 8."""
    from tsdb_parquet_spark.histograms import NativeHistogram

    attrs = []
    ts = 0
    count = 0.0
    total = 0.0
    scale = 0
    zero_count = 0.0
    zero_threshold = 0.0
    pos_b = (0, [])
    neg_b = (0, [])
    flags = 0
    for field, wire, a, b in _fields(data, pos, end):
        if field == 1 and wire == 2:
            attrs.append((a, b))
        elif field == 3 and wire == 1:
            ts = _q64(data, a) // 1_000_000
        elif field == 4 and wire == 1:
            count = float(_q64(data, a))
        elif field == 5 and wire == 1:
            total = _f64(data, a)
        elif field == 6 and wire == 0:
            scale = (a >> 1) ^ -(a & 1)
        elif field == 7 and wire == 1:
            zero_count = float(_q64(data, a))
        elif field == 8 and wire == 2:
            pos_b = _buckets(data, a, b)
        elif field == 9 and wire == 2:
            neg_b = _buckets(data, a, b)
        elif field == 10 and wire == 0:
            flags = a
        elif field == 14 and wire == 1:
            zero_threshold = _f64(data, a)
    if scale < -4:
        raise ValueError(f"OTLP exponential scale {scale} below -4")
    steps = max(0, scale - 8)
    schema = scale - steps

    def runs(idx_counts: dict[int, int]):
        spans: list[tuple[int, int]] = []
        buckets: list[float] = []
        prev_end = 0
        run_start = None
        run_len = 0
        for idx in sorted(idx_counts):
            if run_start is None or idx != run_start + run_len:
                if run_start is not None:
                    spans.append((run_start - prev_end, run_len))
                    prev_end = run_start + run_len
                run_start, run_len = idx, 0
            run_len += 1
            buckets.append(float(idx_counts[idx]))
        if run_start is not None:
            spans.append((run_start - prev_end, run_len))
        return tuple(spans), tuple(buckets)

    pspans, pbuckets = runs(_downscale(*pos_b, steps))
    nspans, nbuckets = runs(_downscale(*neg_b, steps))
    h = NativeHistogram(
        schema=schema,
        count=count,
        sum=total,
        zero_threshold=zero_threshold,
        zero_count=zero_count,
        positive_spans=pspans,
        positive_buckets=pbuckets,
        negative_spans=nspans,
        negative_buckets=nbuckets,
    )
    return attrs, ts, h, flags


def _resource_base(data: bytes, rm_a: int, rm_b: int, norm=None):
    """ResourceMetrics -> (base label dict with the service.* triple
    mapped to job/instance, scope_spans) — the translation shared by
    the sample and exemplar decoders."""
    norm = norm or _norm_label
    resource_attrs: dict[str, str] = {}
    scope_spans: list[tuple[int, int]] = []
    for field, wire, a, b in _fields(data, rm_a, rm_b):
        if field == 1 and wire == 2:  # Resource
            spans = [
                (x, y)
                for ff, ww, x, y in _fields(data, a, b)
                if ff == 1 and ww == 2
            ]
            resource_attrs = _decode_attrs(data, spans, norm)
        elif field == 2 and wire == 2:
            scope_spans.append((a, b))
    base = dict(resource_attrs)
    # the identifying triple is popped under the ACTIVE normalization
    # (raw dotted keys in no_utf8_escaping mode)
    name = base.pop(norm("service.name"), None)
    namespace = base.pop(norm("service.namespace"), None)
    instance = base.pop(norm("service.instance.id"), None)
    if name is not None:
        base["job"] = f"{namespace}/{name}" if namespace else name
    if instance is not None:
        base["instance"] = instance
    return base, scope_spans


def decode_export_samples(
    proto: bytes,
    resource_attrs: str = "labels",
    translation: str = "underscores",
) -> list[tuple[str, dict, int, float]]:
    """ExportMetricsServiceRequest -> sample rows ``(metric_name,
    labels, ts_ms, value)`` under the translation documented in the
    module docstring.  Classic and exponential histograms land as
    cumulative ``_bucket{le=}``/``_count``/``_sum`` rows, summaries as
    ``{quantile=}``/``_count``/``_sum`` rows.

    ``resource_attrs`` picks where NON-identifying resource attributes
    land: ``"labels"`` (default — merged into every sample's labels,
    the documented deviation) or ``"target_info"`` (Prometheus 3.x
    behavior: samples carry only ``job``/``instance``, and each
    resource batch that has leftover attributes emits one
    ``target_info{job,instance,<attrs>} = 1`` info sample stamped at
    the batch's latest sample timestamp, the shape
    ``storage/remote/otlptranslator``'s addResourceTargetInfo
    produces)."""
    rows, _ = _decode_export_samples(
        proto, resource_attrs, None, translation
    )
    return rows


def decode_export_samples_with_delta(
    proto: bytes,
    resource_attrs: str = "labels",
    translation: str = "underscores",
) -> tuple[
    list[tuple[str, dict, int, float]],
    list[tuple[str, dict, int, float]],
]:
    """Like :func:`decode_export_samples`, but DELTA-temporality sums
    are returned as a SECOND list of raw increments (monotonic deltas
    already carry the `_total` suffix their converted-cumulative series
    will use) instead of being skipped — the per-payload half of the
    delta->cumulative conversion; `otlp_frame(delta="convert")` does
    the cross-payload running sum."""
    delta_rows: list[tuple[str, dict, int, float]] = []
    rows, delta_rows = _decode_export_samples(
        proto, resource_attrs, delta_rows, translation
    )
    return rows, delta_rows


def _decode_export_samples(
    proto, resource_attrs, delta_rows, translation="underscores"
):
    from tsdb_parquet_spark.histograms import expand_to_classic, format_le

    if translation not in ("underscores", "no_utf8_escaping"):
        raise ValueError(
            "translation must be 'underscores' or 'no_utf8_escaping', "
            f"got {translation!r}"
        )
    norm_name = _norm_name if translation == "underscores" else _raw_name
    norm_label = _norm_label if translation == "underscores" else _raw_name
    if resource_attrs not in ("labels", "target_info"):
        raise ValueError(
            f"resource_attrs must be 'labels' or 'target_info', "
            f"got {resource_attrs!r}"
        )
    rows: list[tuple[str, dict, int, float]] = []
    data = proto
    for f_rm, w_rm, rm_a, rm_b in _fields(data, 0, len(data)):
        if f_rm != 1 or w_rm != 2:
            continue
        merged, scope_spans = _resource_base(data, rm_a, rm_b, norm_label)
        if resource_attrs == "target_info":
            base = {k: v for k, v in merged.items()
                    if k in ("job", "instance")}
            extra = {k: v for k, v in merged.items()
                     if k not in ("job", "instance")}
        else:
            base, extra = merged, {}
        n_before = len(rows)
        for sm_a, sm_b in scope_spans:
            for f_m, w_m, m_a, m_b in _fields(data, sm_a, sm_b):
                if f_m != 2 or w_m != 2:
                    continue
                _decode_metric(data, m_a, m_b, base, rows,
                               expand_to_classic, format_le,
                               delta_rows=delta_rows,
                               norm_name=norm_name,
                               norm_label=norm_label)
        if extra and len(rows) > n_before:
            ts_max = max(r[2] for r in rows[n_before:])
            rows.append(
                ("target_info", {**base, **extra}, ts_max, 1.0)
            )
    return rows, delta_rows


def _decode_metric(data, m_a, m_b, base, rows, expand_to_classic,
                   format_le, delta_rows=None, norm_name=None,
                   norm_label=None):
    norm_name = norm_name or _norm_name
    norm_label = norm_label or _norm_label
    name = ""
    gauge = None
    summ = None
    hist = None
    exph = None
    sum_msg = None
    for field, wire, a, b in _fields(data, m_a, m_b):
        if field == 1 and wire == 2:
            name = norm_name(data[a:b].decode("utf-8"))
        elif field == 5 and wire == 2:
            gauge = (a, b)
        elif field == 7 and wire == 2:
            sum_msg = (a, b)
        elif field == 9 and wire == 2:
            hist = (a, b)
        elif field == 10 and wire == 2:
            exph = (a, b)
        elif field == 11 and wire == 2:
            summ = (a, b)

    def lab(attr_spans):
        out = dict(base)
        out.update(_decode_attrs(data, attr_spans, norm_label))
        return out

    if gauge is not None:
        for f, w, a, b in _fields(data, *gauge):
            if f == 1 and w == 2:
                attrs, ts, val, flags = _number_point(data, a, b)
                if val is None or flags & _NO_RECORDED_VALUE:
                    continue
                rows.append((name, lab(attrs), ts, val))
    if sum_msg is not None:
        points = []
        temporality = 0
        monotonic = False
        for f, w, a, b in _fields(data, *sum_msg):
            if f == 1 and w == 2:
                points.append((a, b))
            elif f == 2 and w == 0:
                temporality = a
            elif f == 3 and w == 0:
                monotonic = bool(a)
        if temporality == _CUMULATIVE:
            out_name = name
            if monotonic and not out_name.endswith("_total"):
                out_name = f"{out_name}_total"
            for a, b in points:
                attrs, ts, val, flags = _number_point(data, a, b)
                if val is None or flags & _NO_RECORDED_VALUE:
                    continue
                rows.append((out_name, lab(attrs), ts, val))
        elif temporality == _DELTA and delta_rows is not None:
            # delta->cumulative conversion (Prometheus 3.x's
            # experimental otlp delta conversion): emit the raw
            # increments here; the FRAME layer running-sums them per
            # series (accumulation must span payloads, so it cannot
            # happen inside one body's decode).  The converted series
            # is cumulative, so a monotonic sum gains `_total` exactly
            # like a natively-cumulative one.
            out_name = name
            if monotonic and not out_name.endswith("_total"):
                out_name = f"{out_name}_total"
            for a, b in points:
                attrs, ts, val, flags = _number_point(data, a, b)
                if val is None or flags & _NO_RECORDED_VALUE:
                    continue
                delta_rows.append((out_name, lab(attrs), ts, val))
        # DELTA sums are otherwise skipped, like Prometheus's default;
        # DELTA histograms are always skipped (bucket-wise accumulation
        # is out of scope)
    if hist is not None:
        temporality = 0
        points = []
        for f, w, a, b in _fields(data, *hist):
            if f == 1 and w == 2:
                points.append((a, b))
            elif f == 2 and w == 0:
                temporality = a
        if temporality == _CUMULATIVE:
            for p_a, p_b in points:
                attrs = []
                ts = 0
                count = 0
                total = None
                bucket_counts: list[int] = []
                bounds: list[float] = []
                flags = 0
                for f, w, a, b in _fields(data, p_a, p_b):
                    if f == 3 and w == 1:
                        ts = _q64(data, a) // 1_000_000
                    elif f == 4 and w == 1:
                        count = _q64(data, a)
                    elif f == 5 and w == 1:
                        total = _f64(data, a)
                    elif f == 6 and w == 2:
                        # a packed repeated field may arrive SPLIT
                        # across chunks — parsers must concatenate
                        bucket_counts.extend(_packed_fixed64(data, a, b))
                    elif f == 6 and w == 1:
                        bucket_counts.append(_q64(data, a))
                    elif f == 7 and w == 2:
                        bounds.extend(_packed_double(data, a, b))
                    elif f == 7 and w == 1:
                        bounds.append(_f64(data, a))
                    elif f == 9 and w == 2:
                        attrs.append((a, b))
                    elif f == 10 and w == 0:
                        flags = a
                if flags & _NO_RECORDED_VALUE:
                    continue
                labels = lab(attrs)
                cum = 0.0
                for i, edge in enumerate(bounds):
                    cum += bucket_counts[i] if i < len(bucket_counts) else 0
                    rows.append(
                        (f"{name}_bucket",
                         {**labels, "le": format_le(edge)}, ts, cum)
                    )
                rows.append(
                    (f"{name}_bucket", {**labels, "le": "+Inf"}, ts,
                     float(count))
                )
                rows.append((f"{name}_count", dict(labels), ts,
                             float(count)))
                if total is not None:
                    rows.append((f"{name}_sum", dict(labels), ts, total))
    if exph is not None:
        temporality = 0
        points = []
        for f, w, a, b in _fields(data, *exph):
            if f == 1 and w == 2:
                points.append((a, b))
            elif f == 2 and w == 0:
                temporality = a
        if temporality == _CUMULATIVE:
            for a, b in points:
                attrs, ts, h, flags = _exp_point_to_native(data, a, b)
                if flags & _NO_RECORDED_VALUE:
                    continue
                rows.extend(expand_to_classic(name, lab(attrs), ts, h))
    if summ is not None:
        for f, w, p_a, p_b in _fields(data, *summ):
            if f != 1 or w != 2:
                continue
            attrs = []
            ts = 0
            count = 0
            total = None
            flags = 0
            qvals: list[tuple[float, float]] = []
            for f2, w2, a, b in _fields(data, p_a, p_b):
                if f2 == 3 and w2 == 1:
                    ts = _q64(data, a) // 1_000_000
                elif f2 == 4 and w2 == 1:
                    count = _q64(data, a)
                elif f2 == 5 and w2 == 1:
                    total = _f64(data, a)
                elif f2 == 8 and w2 == 0:
                    flags = a
                elif f2 == 6 and w2 == 2:
                    q = v = 0.0
                    for f3, w3, x, _y in _fields(data, a, b):
                        if f3 == 1 and w3 == 1:
                            q = _f64(data, x)
                        elif f3 == 2 and w3 == 1:
                            v = _f64(data, x)
                    qvals.append((q, v))
                elif f2 == 7 and w2 == 2:
                    attrs.append((a, b))
            if flags & _NO_RECORDED_VALUE:
                continue
            labels = lab(attrs)
            for q, v in qvals:
                rows.append(
                    (name, {**labels, "quantile": format_le(q)}, ts, v)
                )
            rows.append((f"{name}_count", dict(labels), ts, float(count)))
            if total is not None:
                rows.append((f"{name}_sum", dict(labels), ts, total))


# ---------------------------------------------------------------------------
# exemplars
# ---------------------------------------------------------------------------


def _decode_exemplar(data: bytes, pos: int, end: int):
    """OTLP ``Exemplar`` (metrics.proto: filtered_attributes 7,
    time_unix_nano 2 fixed64, as_double 3, as_int 6 sfixed64, span_id 4
    bytes, trace_id 5 bytes) -> (ts_ms, value, labels) with trace/span
    ids hex-encoded under ``trace_id``/``span_id``, the Prometheus OTLP
    exemplar translation."""
    attrs = []
    ts = 0
    val = None
    labels: dict[str, str] = {}
    for field, wire, a, b in _fields(data, pos, end):
        if field == 7 and wire == 2:
            attrs.append((a, b))
        elif field == 2 and wire == 1:
            ts = _q64(data, a) // 1_000_000
        elif field == 3 and wire == 1:
            val = _f64(data, a)
        elif field == 6 and wire == 1:
            val = float(struct.unpack_from("<q", data, a)[0])
        elif field == 4 and wire == 2:
            labels["span_id"] = data[a:b].hex()
        elif field == 5 and wire == 2:
            labels["trace_id"] = data[a:b].hex()
    labels.update(_decode_attrs(data, attrs))
    return ts, val, labels


def decode_export_exemplars(
    proto: bytes,
    translation: str = "underscores",
) -> list[tuple[str, dict, int, float, dict]]:
    """Exemplars riding on an ``ExportMetricsServiceRequest`` ->
    ``(metric_name, series_labels, ts_ms, value, exemplar_labels)``
    rows, from NumberDataPoint (field 5) and HistogramDataPoint /
    ExponentialHistogramDataPoint (field 8 / 11) exemplars.  Series
    labels get the same resource/attribute translation as samples; the
    metric name is the BASE name (no ``_bucket`` suffix — an exemplar
    belongs to the histogram, not one bucket), matching Prometheus's
    exemplar storage keyed by series."""
    if translation not in ("underscores", "no_utf8_escaping"):
        raise ValueError(
            "translation must be 'underscores' or 'no_utf8_escaping', "
            f"got {translation!r}"
        )
    norm_name = _norm_name if translation == "underscores" else _raw_name
    norm_label = _norm_label if translation == "underscores" else _raw_name
    rows: list[tuple[str, dict, int, float, dict]] = []
    data = proto
    for f_rm, w_rm, rm_a, rm_b in _fields(data, 0, len(data)):
        if f_rm != 1 or w_rm != 2:
            continue
        base, scope_spans = _resource_base(data, rm_a, rm_b, norm_label)
        for sm_a, sm_b in scope_spans:
            for f_m, w_m, m_a, m_b in _fields(data, sm_a, sm_b):
                if f_m != 2 or w_m != 2:
                    continue
                name = ""
                bodies = []  # (container_span, exemplar_field, gauge?)
                for field, wire, a, b in _fields(data, m_a, m_b):
                    if field == 1 and wire == 2:
                        name = norm_name(data[a:b].decode("utf-8"))
                    elif field == 5 and wire == 2:
                        bodies.append((a, b, 5, True))   # Gauge
                    elif field == 7 and wire == 2:
                        bodies.append((a, b, 5, False))  # Sum
                    elif field == 9 and wire == 2:
                        bodies.append((a, b, 8, False))  # Histogram
                    elif field == 10 and wire == 2:
                        bodies.append((a, b, 11, False))  # Exponential
                for c_a, c_b, ex_field, is_gauge in bodies:
                    out_name = name
                    if not is_gauge:
                        # same DELTA skip as the sample decoder — an
                        # exemplar must not outlive its (dropped) series
                        temporality = 0
                        monotonic = False
                        for f_t, w_t, t_a, _tb in _fields(data, c_a, c_b):
                            if f_t == 2 and w_t == 0:
                                temporality = t_a
                            elif ex_field == 5 and f_t == 3 and w_t == 0:
                                monotonic = bool(t_a)
                        if temporality != _CUMULATIVE:
                            continue
                        # monotonic-sum exemplars follow the SAMPLE path's
                        # series rename (decode_export_samples suffixes
                        # '_total'), so query_exemplars with the selector
                        # users actually query finds them
                        if monotonic and not out_name.endswith("_total"):
                            out_name = f"{out_name}_total"
                    for f_p, w_p, p_a, p_b in _fields(data, c_a, c_b):
                        if f_p != 1 or w_p != 2:
                            continue
                        attrs = []
                        exemplars = []
                        attr_field = 7 if ex_field == 5 else (
                            9 if ex_field == 8 else 1
                        )
                        for f2, w2, a, b in _fields(data, p_a, p_b):
                            if f2 == attr_field and w2 == 2:
                                attrs.append((a, b))
                            elif f2 == ex_field and w2 == 2:
                                exemplars.append((a, b))
                        if not exemplars:
                            continue
                        labels = dict(base)
                        labels.update(_decode_attrs(data, attrs, norm_label))
                        for a, b in exemplars:
                            ts, val, ex_labels = _decode_exemplar(
                                data, a, b
                            )
                            if val is None:
                                continue
                            rows.append(
                                (out_name, labels, ts, val, ex_labels)
                            )
    return rows


def otlp_exemplar_frame(
    payloads,
    label_names: Sequence[str],
    payload_col: str = "payload",
    gzip_encoded: bool | None = None,
    batch_rows: int = 4096,
    translation: str = "underscores",
):
    """Exemplars riding on OTLP POST bodies as a DataFrame
    ``(label_names..., ts, value, exemplar_labels map)`` — shape-
    compatible with `tsdb_wal.wal_to_exemplars_frame`, so the rows drop
    straight into the exemplar store
    (`sources.exemplars.write_exemplar_store`).  Same executor-side
    decode shape as :func:`otlp_frame`."""
    from pyspark.sql import types as T

    from tsdb_parquet_spark.names import escape_name
    from tsdb_parquet_spark.remote_write import _arrow_schema, _record_batch

    payloads = payloads.select(payload_col)
    # raw wire names in; U__ value-encoded column names out (identity
    # for classic names) — the otlp_frame contract
    label_names = sorted(label_names)
    col_names = [escape_name(c) for c in label_names]
    schema = T.StructType(
        [T.StructField(c, T.StringType(), False) for c in col_names]
        + [
            T.StructField("ts", T.LongType(), False),
            T.StructField("value", T.DoubleType(), False),
            T.StructField(
                "exemplar_labels",
                T.MapType(T.StringType(), T.StringType()),
                False,
            ),
        ]
    )

    def convert(batches):
        arrow_schema = _arrow_schema(
            col_names, ["ts", "value", "exemplar_labels"]
        )
        buf: list[tuple] = []
        for batch in batches:
            for proto in batch.column(payload_col).to_pylist():
                if gzip_encoded or (
                    gzip_encoded is None and proto[:2] == b"\x1f\x8b"
                ):
                    proto = _gzip.decompress(proto)
                for name, labels, ts, val, ex in decode_export_exemplars(
                    proto, translation=translation
                ):
                    row = tuple(
                        name if c == "__name__" else labels.get(c, "")
                        for c in label_names
                    )
                    buf.append(row + (ts, val, ex))
                    if len(buf) >= batch_rows:
                        yield _record_batch(buf, arrow_schema)
                        buf = []
        if buf:
            yield _record_batch(buf, arrow_schema)

    return payloads.mapInArrow(convert, schema)


# ---------------------------------------------------------------------------
# encode (fixtures / tests / loopback senders)
# ---------------------------------------------------------------------------


def _enc_any_string(value: str) -> bytes:
    out = bytearray()
    _put_len_delim(out, 1, value.encode("utf-8"))
    return bytes(out)


def _enc_keyvalue(key: str, value: str) -> bytes:
    out = bytearray()
    _put_len_delim(out, 1, key.encode("utf-8"))
    _put_len_delim(out, 2, _enc_any_string(value))
    return bytes(out)


def _enc_fixed64(out: bytearray, field: int, v: int) -> None:
    _put_key(out, field, 1)
    out += struct.pack("<Q", v)


def _enc_double(out: bytearray, field: int, v: float) -> None:
    _put_key(out, field, 1)
    out += struct.pack("<d", v)


def _enc_exemplar(ts_ms: int, value: float, labels: dict) -> bytes:
    """OTLP ``Exemplar``: trace_id/span_id keys encode as the raw-bytes
    fields (hex-decoded), everything else as filtered_attributes."""
    out = bytearray()
    _enc_fixed64(out, 2, int(ts_ms) * 1_000_000)
    _enc_double(out, 3, float(value))
    for k, v in labels.items():
        if k == "trace_id":
            _put_len_delim(out, 5, bytes.fromhex(v))
        elif k == "span_id":
            _put_len_delim(out, 4, bytes.fromhex(v))
        else:
            _put_len_delim(out, 7, _enc_keyvalue(k, str(v)))
    return bytes(out)


def _enc_number_point(
    attrs: dict, ts_ms: int, value: float, exemplars=()
) -> bytes:
    out = bytearray()
    _enc_fixed64(out, 3, int(ts_ms) * 1_000_000)
    _enc_double(out, 4, float(value))
    for ex_ts, ex_v, ex_labels in exemplars:
        _put_len_delim(out, 5, _enc_exemplar(ex_ts, ex_v, ex_labels))
    for k, v in attrs.items():
        _put_len_delim(out, 7, _enc_keyvalue(k, str(v)))
    return bytes(out)


def _enc_sint(out: bytearray, field: int, v: int) -> None:
    _put_key(out, field, 0)
    _put_uvarint(out, (v << 1) ^ (v >> 63) if v < 0 else v << 1)


def encode_export_request(resource_batches) -> bytes:
    """Build an ``ExportMetricsServiceRequest`` body.

    ``resource_batches``: ``[(resource_attrs, metrics), ...]`` where
    each metric is a dict::

        {"name": str, "kind": "gauge"|"sum"|"histogram"|
                              "exponential_histogram"|"summary",
         "monotonic": bool (sums),
         "points": [...]}                    # shapes per kind:
        gauge/sum:  (attrs, ts_ms, value)
        histogram:  (attrs, ts_ms, count, sum, bounds, bucket_counts)
        exponential_histogram: (attrs, ts_ms, NativeHistogram)
        summary:    (attrs, ts_ms, count, sum, [(quantile, value)...])
    """
    req = bytearray()
    for resource_attrs, metrics in resource_batches:
        rm = bytearray()
        res = bytearray()
        for k, v in resource_attrs.items():
            _put_len_delim(res, 1, _enc_keyvalue(k, str(v)))
        _put_len_delim(rm, 1, bytes(res))
        sm = bytearray()
        for metric in metrics:
            m = bytearray()
            _put_len_delim(m, 1, metric["name"].encode("utf-8"))
            kind = metric["kind"]
            if kind in ("gauge", "sum"):
                body = bytearray()
                for point in metric["points"]:
                    # (attrs, ts_ms, value[, exemplars])
                    _put_len_delim(
                        body, 1, _enc_number_point(*point)
                    )
                if kind == "sum":
                    _put_key(body, 2, 0)
                    _put_uvarint(
                        body,
                        _DELTA
                        if metric.get("temporality") == "delta"
                        else _CUMULATIVE,
                    )
                    _put_key(body, 3, 0)
                    _put_uvarint(body, 1 if metric.get("monotonic") else 0)
                _put_len_delim(m, 5 if kind == "gauge" else 7, bytes(body))
            elif kind == "histogram":
                body = bytearray()
                for attrs, ts_ms, count, total, bounds, counts in metric[
                    "points"
                ]:
                    p = bytearray()
                    _enc_fixed64(p, 3, int(ts_ms) * 1_000_000)
                    _enc_fixed64(p, 4, int(count))
                    _enc_double(p, 5, float(total))
                    packed = b"".join(
                        struct.pack("<Q", int(c)) for c in counts
                    )
                    _put_len_delim(p, 6, packed)
                    packedb = b"".join(
                        struct.pack("<d", float(e)) for e in bounds
                    )
                    _put_len_delim(p, 7, packedb)
                    for k, v in attrs.items():
                        _put_len_delim(p, 9, _enc_keyvalue(k, str(v)))
                    _put_len_delim(body, 1, bytes(p))
                _put_key(body, 2, 0)
                _put_uvarint(
                    body,
                    _DELTA
                    if metric.get("temporality") == "delta"
                    else _CUMULATIVE,
                )
                _put_len_delim(m, 9, bytes(body))
            elif kind == "exponential_histogram":
                body = bytearray()
                for attrs, ts_ms, h in metric["points"]:
                    p = bytearray()
                    for k, v in attrs.items():
                        _put_len_delim(p, 1, _enc_keyvalue(k, str(v)))
                    _enc_fixed64(p, 3, int(ts_ms) * 1_000_000)
                    _enc_fixed64(p, 4, int(h.count))
                    _enc_double(p, 5, float(h.sum))
                    _enc_sint(p, 6, int(h.schema))
                    _enc_fixed64(p, 7, int(h.zero_count))
                    for fno, spans, buckets in (
                        (8, h.positive_spans, h.positive_buckets),
                        (9, h.negative_spans, h.negative_buckets),
                    ):
                        if not buckets:
                            continue
                        idxs = []
                        i = 0
                        for off, length in spans:
                            i += off
                            for _ in range(length):
                                idxs.append(i)
                                i += 1
                        lo, hi = idxs[0], idxs[-1]
                        dense = [0] * (hi - lo + 1)
                        for idx, c in zip(idxs, buckets):
                            dense[idx - lo] = int(c)
                        bb = bytearray()
                        _enc_sint(bb, 1, lo - 1)  # offset = lower edge
                        packed = bytearray()
                        for c in dense:
                            _put_uvarint(packed, c)
                        _put_len_delim(bb, 2, bytes(packed))
                        _put_len_delim(p, fno, bytes(bb))
                    if h.zero_threshold:
                        _enc_double(p, 14, float(h.zero_threshold))
                    _put_len_delim(body, 1, bytes(p))
                _put_key(body, 2, 0)
                _put_uvarint(body, _CUMULATIVE)
                _put_len_delim(m, 10, bytes(body))
            elif kind == "summary":
                body = bytearray()
                for attrs, ts_ms, count, total, qvals in metric["points"]:
                    p = bytearray()
                    _enc_fixed64(p, 3, int(ts_ms) * 1_000_000)
                    _enc_fixed64(p, 4, int(count))
                    _enc_double(p, 5, float(total))
                    for q, v in qvals:
                        vq = bytearray()
                        _enc_double(vq, 1, float(q))
                        _enc_double(vq, 2, float(v))
                        _put_len_delim(p, 6, bytes(vq))
                    for k, v in attrs.items():
                        _put_len_delim(p, 7, _enc_keyvalue(k, str(v)))
                    _put_len_delim(body, 1, bytes(p))
                _put_len_delim(m, 11, bytes(body))
            else:  # pragma: no cover - caller error
                raise ValueError(f"unknown metric kind {kind!r}")
            _put_len_delim(sm, 2, bytes(m))
        # ScopeMetrics (field 2 of ResourceMetrics): metrics are its
        # own field 2; `sm` already holds the repeated Metric entries
        _put_len_delim(rm, 2, bytes(sm))
        _put_len_delim(req, 1, bytes(rm))
    return bytes(req)


# ---------------------------------------------------------------------------
# distributed frame
# ---------------------------------------------------------------------------


def otlp_frame(
    payloads,
    label_names: Sequence[str],
    payload_col: str = "payload",
    gzip_encoded: bool | None = None,
    batch_rows: int = 4096,
    resource_attrs: str = "labels",
    delta: str = "skip",
    translation: str = "underscores",
    pin_decoded: bool = False,
):
    """Decode a DataFrame of OTLP POST bodies into a sample frame
    ``(label_names..., ts long, value double)`` — the OTLP twin of
    `remote_write.remote_write_frame`: one ``mapInArrow`` over the
    payload column (pruned before the Arrow hop), rows streamed out in
    bounded batches of per-column lists (no pandas hop, so a NaN sample
    stays NaN), missing labels as ``""``.  Include ``le`` /
    ``quantile`` in ``label_names`` when histogram or summary metrics
    ride the payloads.  ``gzip_encoded=None`` (default) sniffs the gzip
    magic per payload — a tolerant receiver's spool mixes encodings per
    request, exactly like remote-write version sniffing.
    ``resource_attrs="target_info"`` switches to the Prometheus 3.x
    resource translation (see `decode_export_samples`) — include the
    resource attribute names in ``label_names`` to see them on the
    ``target_info`` rows.

    ``delta``: ``"skip"`` (default — DELTA-temporality sums are
    dropped, Prometheus's default) or ``"convert"`` (the Prometheus
    3.x experimental delta->cumulative conversion: each delta series'
    increments running-sum into a cumulative series, monotonic deltas
    gaining ``_total`` like native cumulatives).  The conversion is
    one window over the DELTA SUBSET only — increments pre-aggregate
    per (series, ts) so duplicate timestamps accumulate
    deterministically, then a per-series ordered running sum; the
    cumulative/gauge rows never shuffle.  DELTA histograms stay
    skipped either way.

    ``translation``: ``"underscores"`` (default) or
    ``"no_utf8_escaping"`` — see the module docstring; in the latter
    mode pass RAW (possibly dotted/UTF-8) names in ``label_names`` and
    the frame's columns come out U__ value-encoded.

    ``pin_decoded``: with ``delta="convert"`` the decoded frame feeds
    TWO plan subtrees (the pass-through rows and the delta window), and
    Catalyst runs the Python decode once per subtree.  ``True`` cuts
    lineage with a lazy ``localCheckpoint`` so every payload is decoded
    exactly once — but the WHOLE decoded sample set is then held in
    executor block storage, so (same contract as the PromQL engine's
    ``shared_scan``) enable it only when the spool is a bounded batch,
    never on an unbounded ingest stream.  Ignored without the delta
    split, where the decode already runs once."""
    from tsdb_parquet_spark.names import escape_name
    from tsdb_parquet_spark.remote_write import _arrow_schema, _record_batch

    if delta not in ("skip", "convert"):
        raise ValueError(f"delta must be 'skip' or 'convert', got {delta!r}")
    if translation not in ("underscores", "no_utf8_escaping"):
        raise ValueError(
            "translation must be 'underscores' or 'no_utf8_escaping', "
            f"got {translation!r}"
        )
    payloads = payloads.select(payload_col)
    # ``label_names`` arrive as the RAW (possibly dotted/UTF-8) label
    # names the decoder emits under ``translation``; the frame's COLUMN
    # names are their U__ value-encoded forms (`names.py` — identity
    # for classic names), keeping every downstream reference
    # identifier-safe while the raw name stays recoverable.
    label_names = sorted(label_names)
    col_names = [escape_name(c) for c in label_names]
    schema = (
        ", ".join(f"`{c}` string" for c in col_names)
        + ", ts long, value double"
    )
    if delta == "convert":
        schema += ", `__delta` boolean"

    def convert(batches):
        tail = ["ts", "value"] + (["__delta"] if delta == "convert" else [])
        arrow_schema = _arrow_schema(col_names, tail)
        buf: list[tuple] = []
        for batch in batches:
            for proto in batch.column(payload_col).to_pylist():
                if gzip_encoded or (
                    gzip_encoded is None and proto[:2] == b"\x1f\x8b"
                ):
                    proto = _gzip.decompress(proto)
                if delta == "convert":
                    rows, delta_rows = decode_export_samples_with_delta(
                        proto, resource_attrs=resource_attrs,
                        translation=translation,
                    )
                    tagged = [(r, False) for r in rows] + [
                        (r, True) for r in delta_rows
                    ]
                else:
                    tagged = [
                        (r, False)
                        for r in decode_export_samples(
                            proto, resource_attrs=resource_attrs,
                            translation=translation,
                        )
                    ]
                for (name, labels, ts_ms, value), is_delta in tagged:
                    row = []
                    for c in label_names:
                        row.append(
                            name if c == "__name__" else labels.get(c, "")
                        )
                    row = tuple(row) + (ts_ms, value)
                    if delta == "convert":
                        row = row + (is_delta,)
                    buf.append(row)
                    if len(buf) >= batch_rows:
                        yield _record_batch(buf, arrow_schema)
                        buf = []
        if buf:
            yield _record_batch(buf, arrow_schema)

    frame = payloads.mapInArrow(convert, schema)
    if delta != "convert":
        return frame
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if pin_decoded:
        frame = frame.localCheckpoint(eager=False)
    plain = frame.filter(~F.col("__delta")).drop("__delta")
    deltas = (
        frame.filter(F.col("__delta"))
        .groupBy(*col_names, "ts")
        .agg(F.sum("value").alias("value"))
    )
    w = Window.partitionBy(*col_names).orderBy("ts")
    cum = deltas.withColumn("value", F.sum("value").over(w)).select(
        *col_names, "ts", "value"
    )
    return plain.unionByName(cum)

"""PromQL-subset translator: query string -> DataFrame plan (reference M3).

The reference delegates ALL PromQL evaluation to the external
thanos promql-engine over a stubbed sample iterator
(`prometheus/promql_test.go:28-44`, `prometheus/chunks_iterator.go:8-41`);
its own surface is only series selection.  This module goes further: a
small recursive-descent parser for the subset

    expr     := or_expr
    or_expr  := and_expr ('or' [matching] and_expr)*
    and_expr := cmp (('and'|'unless') [matching] cmp)*
    cmp      := sum_expr (CMPOP ['bool'] [matching] sum_expr)*
    sum_expr := agg | func | pfunc | mathfn | label_replace | histq
              | selector | sum_expr binop [matching] sum_expr
              | ('-'|'+') sum_expr
    agg      := AGGOP [grouping] '(' (func | pfunc | selector) ')'
                [grouping]                -- either position, not both
    grouping := ('by' | 'without') '(' [label (',' label)*] ')'
    func     := FUNC '(' selector '[' duration ']' [modifiers] ')'
    pfunc    := PFUNC '(' number ',' selector '[' duration ']' [modifiers] ')'
    mathfn   := MATHFN '(' expr (',' number)* ')'
    label_replace := 'label_replace' '(' expr ',' str ',' str ',' str ',' str ')'
    histq    := 'histogram_quantile' '(' number ',' expr ')'
    histfrac := 'histogram_fraction' '(' number ',' number ',' expr ')'
    histacc  := ('histogram_count'|'histogram_sum'|'histogram_avg') '(' selector ')'
    histstd  := ('histogram_stddev'|'histogram_stdvar') '(' selector ')'
    selector := metric ['{' matcher (',' matcher)* '}'] [modifiers]
              | '{' matcher (',' matcher)* '}' [modifiers]
                (bare-brace form; Prometheus 3.x UTF-8 names ride it:
                 a bare '"name"' element is the metric name, a quoted
                 '"label name"' may front any matcher)
    modifiers:= ['offset' ['-'] duration]
                ['@' (number | 'start()' | 'end()')]
    matcher  := (label | '"' label '"') ('='|'!='|'=~'|'!~') '"' value '"'
    matching := ('on'|'ignoring') '(' [label (',' label)*] ')'
                [('group_left'|'group_right') ['(' [label...] ')']]
    AGGOP    := sum | min | max | count | avg | stddev | stdvar | group
              | quantile(phi, v) | count_values("lbl", v) [grouping]
              | topk/bottomk(k, v) | limitk(k, v) | limit_ratio(r, v)
                (3.x experimental sampling aggs; deterministic md5
                 series hash, negative r = complement)
    CMPOP    := > | < | >= | <= | == | !=
    FUNC     := rate | increase | delta | idelta | irate | changes | resets |
                count_over_time | sum_over_time | avg_over_time |
                min_over_time | max_over_time | last_over_time |
                present_over_time | stddev_over_time | absent_over_time |
                mad_over_time | deriv | predict_linear(v[d], t) |
                holt_winters(v[d], sf, tf)   (3.x alias:
                double_exponential_smoothing)
    subquery := FUNC '(' expr '[' duration ':' duration ']' ')'
    PFUNC    := quantile_over_time
    MATHFN   := abs | ceil | floor | sqrt | exp | ln | sgn | round | clamp |
                clamp_min | clamp_max
    TIMEFN   := minute | hour | day_of_week | day_of_month | day_of_year |
                month | year | days_in_month | timestamp   (values as epoch-s)
    misc     := time() | vector(number) | label_join(v, dst, sep, src...)

and a range-query evaluator that compiles the expression to DataFrame
operations over a samples table (ts int64 ms, value double, label columns).

Evaluation strategy (scale-first):

- **tumbling fast path**: when the range window equals the step, each
  sample belongs to exactly one step -> pure column arithmetic + one
  groupBy; no join at all.
- **general path** (window > step): arithmetic step fan-out — each
  sample's first/last affected step index is computed in closed form and
  ``explode(sequence(...))`` emits exactly its ~window/step step rows; no
  join of any kind, and the samples side shuffles once, for the final
  per-(series, step) aggregation.

``rate``/``increase`` apply Prometheus counter-reset correction (each
in-window decrease adds the pre-reset value); window-edge extrapolation
(Prometheus's extrapolatedRate) is available behind
``PromQLEngine(extrapolate=True)`` and off by default.  ``offset`` and
``@`` modifiers are supported on instant and range selectors.
Documented deviation: ``delta`` does not extrapolate (same default as
rate).
"""

from __future__ import annotations

import math

import numpy as np
import re
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsdb_parquet_spark.names import escape_name as _escape_name
from tsdb_parquet_spark.names import unescape_name as _unescape_name
from tsdb_parquet_spark.operators.selection import Matcher, apply_matchers

DEFAULT_LOOKBACK_MS = 5 * 60 * 1000  # PromQL staleness window

AGG_OPS = {"sum", "min", "max", "count", "avg", "stddev", "stdvar", "group"}
PARAM_AGG_OPS = {"topk", "bottomk", "limitk", "limit_ratio"}
BINARY_OPS = {"+", "-", "*", "/", "%", "^", "atan2"}
COMPARE_OPS = {">", "<", ">=", "<=", "==", "!="}
# instant math functions: name -> max number of scalar params after the
# vector (fewer may be given where Prometheus defines a default)
MATH_FUNCS = {
    "abs": 0,
    "ceil": 0,
    "floor": 0,
    "sqrt": 0,
    "exp": 0,
    "ln": 0,
    "sgn": 0,
    "round": 1,
    "clamp": 2,
    "clamp_min": 1,
    "clamp_max": 1,
    "log2": 0,
    "log10": 0,
    "sin": 0,
    "cos": 0,
    "tan": 0,
    "asin": 0,
    "acos": 0,
    "atan": 0,
    "sinh": 0,
    "cosh": 0,
    "tanh": 0,
    "asinh": 0,
    "acosh": 0,
    "atanh": 0,
    "deg": 0,
    "rad": 0,
}
RANGE_FUNCS = {
    "rate",
    "increase",
    "delta",
    "idelta",
    "irate",
    "changes",
    "resets",
    "count_over_time",
    "sum_over_time",
    "avg_over_time",
    "min_over_time",
    "max_over_time",
    "last_over_time",
    "first_over_time",  # Prometheus 3.x experimental (with ts_of twin)
    "present_over_time",
    "stddev_over_time",
    "stdvar_over_time",
    "absent_over_time",
    "deriv",
    "predict_linear",
    "holt_winters",
    "double_exponential_smoothing",  # Prometheus 3.x name (alias)
    "mad_over_time",
    "ts_of_last_over_time",  # Prometheus 3.5 experimental ts_of_* family
    "ts_of_first_over_time",
    "ts_of_max_over_time",
    "ts_of_min_over_time",
}
#: Prometheus 3.x renames accepted as aliases (normalized at parse time)
FUNC_ALIASES = {"double_exponential_smoothing": "holt_winters"}
#: range functions taking a leading scalar param: fn(param, m[dur])
PARAM_RANGE_FUNCS = {"quantile_over_time"}
#: range functions taking scalar params AFTER the range vector
TRAILING_SCALARS = {"predict_linear": 1, "holt_winters": 2}

#: scalar-scalar arithmetic folds to a literal at parse time (Prometheus
#: evaluates scalar expressions; Go math.Mod/Pow/Atan2 semantics)
def _ieee_fmod(a: float, b: float) -> float:
    # Go math.Mod: Mod(x, 0) = NaN, Mod(±Inf, y) = NaN — Python's
    # math.fmod raises ValueError on those domains instead
    with np.errstate(all="ignore"):
        return float(np.fmod(np.float64(a), np.float64(b)))


def _ieee_pow(a: float, b: float) -> float:
    # Go math.Pow follows IEEE-754 pow: 0^-1 = +Inf, (-2)^0.5 = NaN —
    # Python's math.pow raises ValueError on those domains instead
    with np.errstate(all="ignore"):
        return float(np.power(np.float64(a), np.float64(b)))


_SCALAR_FOLD = {
    "+": lambda a, b: a + b,
    "-": lambda a, b: a - b,
    "*": lambda a, b: a * b,
    "/": lambda a, b: a / b if b != 0 else math.copysign(math.inf, a) if a else math.nan,
    "%": _ieee_fmod,
    "^": _ieee_pow,
    "atan2": math.atan2,
}


def _is_dynamic_scalar(node) -> bool:
    """Static scalar-typing: scalar(v), and arithmetic over scalars, are
    scalar-typed EXPRESSIONS — `m > scalar(x) / 4` must treat the whole
    right side as a per-step scalar (float-float arithmetic never reaches
    here: it folds to a literal at parse time)."""
    if isinstance(node, PromScalarFn):
        return True
    if isinstance(node, PromBinary) and node.op in _SCALAR_FOLD:
        left_s = isinstance(node.left, float) or _is_dynamic_scalar(node.left)
        right_s = isinstance(node.right, float) or _is_dynamic_scalar(node.right)
        return left_s and right_s
    return False


def _mk_arith(op, left, right, **kw):
    """Construct an arithmetic PromBinary, folding float-op-float."""
    if (
        isinstance(left, float)
        and isinstance(right, float)
        and op in _SCALAR_FOLD
        and kw.get("matching_mode") is None
    ):
        return _SCALAR_FOLD[op](left, right)
    return PromBinary(op=op, left=left, right=right, **kw)


_DURATION_RE = re.compile(r"^(\d+)(ms|s|m|h|d|w)$")
_DURATION_MS = {"ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
                "d": 86_400_000, "w": 604_800_000}


def parse_duration_ms(text: str) -> int:
    m = _DURATION_RE.match(text.strip())
    if not m:
        raise ValueError(f"bad duration {text!r}")
    return int(m.group(1)) * _DURATION_MS[m.group(2)]


@dataclass
class PromExpr:
    metric: str
    matchers: list[Matcher] = field(default_factory=list)
    func: str | None = None  # range function
    range_ms: int | None = None
    offset_ms: int = 0  # `offset [-]<dur>`: evaluate shifted (neg = fwd)
    #: `@` modifier: unix ms, or the sentinel "start"/"end" (from
    #: `@ start()` / `@ end()`) resolved against the query range in
    #: _eval_expr
    at_ms: "int | str | None" = None
    agg: str | None = None  # outer aggregation
    by: list[str] | None = None  # None = aggregate everything away
    without: list[str] | None = None  # complement grouping
    agg_param: float | None = None  # k for topk/bottomk
    func_param: float | None = None  # phi for quantile_over_time; sf etc
    func_param2: float | None = None  # second trailing scalar (tf)


@dataclass
class PromBinary:
    """expr <op> expr, where either side may be a scalar literal.

    Vector/vector matching defaults to (t, shared output labels); an
    explicit ``on(lbls)`` restricts the match key to the named labels,
    ``ignoring(lbls)`` removes them from the shared set.  ``group_left``
    / ``group_right`` allow many-to-one matching, keeping the many
    side's full label set; the ``group_left(extra)`` label-copy form
    additionally copies the named labels from the one side (Prometheus
    vector-matching semantics)."""

    op: str
    left: "PromNode"
    right: "PromNode"
    matching_mode: str | None = None  # 'on' | 'ignoring'
    matching: list[str] = field(default_factory=list)
    group: str | None = None  # 'left' | 'right'
    #: ``group_left(extra)`` / ``group_right(extra)``: labels copied to
    #: the result FROM the one side (missing labels copy as "")
    group_carry: list[str] = field(default_factory=list)
    #: comparison ops only: True = `> bool` form (emit 1/0 instead of
    #: filtering to matching rows)
    bool_mode: bool = False


@dataclass
class PromMathFunc:
    """Instant math function over a vector: value-wise, labels untouched."""

    func: str
    inner: "PromNode"
    params: list[float] = field(default_factory=list)


@dataclass
class PromLabelReplace:
    """label_replace(v, dst, replacement, src, regex): when ``regex``
    matches ``src``'s value ENTIRELY, set ``dst`` to ``replacement`` with
    ``$N`` group references expanded; otherwise the row is unchanged."""

    inner: "PromNode"
    dst: str
    replacement: str
    src: str
    regex: str


@dataclass
class PromSetOp:
    """``and`` / ``or`` / ``unless`` between two instant vectors
    (Prometheus set operators, loosest precedence).  Matching is on the
    full label set by default — absent labels read as "", the
    reference's convention (`schema/chunk.go:109-112`) — or on the
    ``on``/``ignoring`` subset.  ``and`` keeps left rows with a match in
    right (left-semi), ``unless`` keeps left rows without one
    (left-anti), ``or`` adds right rows whose label set is absent from
    left.  group_left/group_right are invalid here, as in Prometheus."""

    op: str  # 'and' | 'or' | 'unless'
    left: "PromNode"
    right: "PromNode"
    matching_mode: str | None = None  # 'on' | 'ignoring'
    matching: list[str] = field(default_factory=list)


@dataclass
class PromCountValues:
    """count_values("label", vector): per (t, grouping), one output row
    per distinct sample value, counting its occurrences; the value itself
    becomes the named label (string-formatted)."""

    label: str
    inner: "PromNode"
    by: list[str] | None = None
    without: list[str] | None = None


#: calendar functions over a vector of epoch-second values (UTC, like
#: Prometheus — the engine requires a UTC session TZ, which
#: ``session.configure_session`` pins)
TIME_FUNCS = {
    "minute",
    "hour",
    "day_of_week",
    "day_of_month",
    "day_of_year",
    "month",
    "year",
    "days_in_month",
    "timestamp",
}


@dataclass
class PromTime:
    """``time()``: the evaluation timestamp in seconds — materialized as a
    label-less vector over the step axis so it composes with binary ops
    (``time() - m`` joins on ``t`` alone)."""


@dataclass
class PromTimeFunc:
    """Calendar function of a vector's VALUES interpreted as epoch seconds
    (``hour(v)`` etc; ``timestamp(v)`` instead reads the sample's own
    evaluation time).  Labels pass through untouched."""

    func: str
    inner: "PromNode"


@dataclass
class PromLabelJoin:
    """label_join(v, dst, sep, src...): dst := join(sep, src values);
    absent source labels contribute empty strings (the engine's ""-fill
    convention matches Prometheus here)."""

    inner: "PromNode"
    dst: str
    sep: str
    srcs: list[str] = field(default_factory=list)


@dataclass
class PromVector:
    """vector(scalar): the scalar as a label-less series over the step
    axis (the `... or vector(0)` default idiom)."""

    value: float


@dataclass
class PromScalarFn:
    """scalar(v): the single series' value per step, as a label-less
    (t, value) frame.  Steps where the inner vector has != 1 series emit
    NaN (Prometheus); steps where it is EMPTY emit no row here instead of
    NaN — a documented deviation (the engine's frames are sparse over the
    step axis, so "empty at t" and "absent row" coincide)."""

    inner: "PromNode"


@dataclass
class PromSubquery:
    """fn(<expr>[range:step]): the inner expression evaluated on its own
    (absolute-epoch-aligned) sub-step grid, then fed to the range function
    as if its outputs were samples.  Re-uses the arithmetic step fan-out —
    no join materializes the (outer step x sub-step) pairing."""

    func: str
    inner: "PromNode"
    range_ms: int
    step_ms: int
    func_param: float | None = None
    func_param2: float | None = None


@dataclass
class PromAgg:
    """Grouping aggregation over an arbitrary vector node (used when the
    operand is not a plain selector pipeline — e.g. ``sum`` over a
    subquery result); plain-selector aggregations stay fused into
    PromExpr so the single-shuffle path is preserved."""

    op: str
    inner: "PromNode"
    by: list[str] | None = None
    without: list[str] | None = None


@dataclass
class PromQuantileAgg:
    """quantile(phi, vector): per (t, grouping), the phi-quantile of the
    sample values — linear interpolation between order statistics at rank
    phi*(n-1), Prometheus's aggregation quantile (and exactly DuckDB's
    ``quantile_cont`` / Spark's exact ``percentile``)."""

    phi: float
    inner: "PromNode"
    by: list[str] | None = None
    without: list[str] | None = None


@dataclass
class PromHistogramQuantile:
    """histogram_quantile(q, vector-with-le-label): per (t, labels minus
    ``le``) find the cumulative bucket containing rank ``q*total`` and
    linearly interpolate inside it (Prometheus ``bucketQuantile``).  The
    +Inf bucket resolves to the highest finite ``le``; a rank in the
    lowest bucket with ``le <= 0`` returns that bound — its implicit
    lower bound is -Inf, not 0 (promql/quantile.go's
    ``b == 0 && buckets[0].upperBound <= 0`` rule)."""

    q: float
    inner: "PromNode"

@dataclass
class PromHistogramFraction:
    """histogram_fraction(lower, upper, vector-with-le-label): estimated
    fraction of observations in [lower, upper], from the piecewise-
    linear CDF the cumulative ``le`` buckets define — the native-
    histogram function lifted onto the classic representation the
    engine's histogram reduction produces (`histograms.py`).  Mass in
    the +Inf bucket counts only when the bound IS +Inf; the lowest
    bucket interpolates from 0, consistent with histogram_quantile."""

    lower: float
    upper: float
    inner: "PromNode"



@dataclass
class PromHistogramStd:
    """histogram_stddev / histogram_stdvar over a PLAIN selector of the
    classic histogram reduction: population variance of the
    observations, estimated bucket-wise like Prometheus's native
    implementation (promql/functions.go funcHistogramStdDev) — each
    bucket contributes ``count_b * (mid_b - mean)^2`` with the
    ARITHMETIC bucket midpoint, the +Inf bucket located at its finite
    lower edge and the first bucket at ``le/2`` for ``le > 0`` (the
    same start-at-0 convention histogram_quantile uses) or at ``le``
    for ``le <= 0`` (the -Inf-lower-bound point-mass rule).  The mean
    is EXACT (``_sum``/``_count`` series), not bucket-estimated,
    matching upstream's ``h.Sum / h.Count``."""

    stddev: bool
    inner: "PromExpr"


@dataclass
class PromAbsent:
    """absent(v): 1.0 at every step where the instant vector is empty
    (presence judged over the lookback window, like any instant
    selector).  For a plain selector, output labels are synthesized from
    its equality matchers, Prometheus-style; for derived vectors the
    result is label-free."""

    inner: "PromNode"


@dataclass
class PromInfo:
    """``info(v[, {data-label matchers}])`` — the Prometheus 3.x
    experimental info function: enrich each sample of ``v`` with data
    labels from the ``target_info`` series sharing its identifying
    labels (``job``, ``instance``) at the same evaluation step (info
    presence judged over the lookback, like any instant selector).

    Engine-specific rules, documented because the upstream function is
    experimental and its conflict behavior in flux: (1) a data label is
    only FILLED where the input series carries "" (absent) — a
    non-empty input label always wins; (2) with a data-label selector,
    only the named labels are added, and only from info series whose
    value matches — non-matching values contribute "" rather than
    dropping the sample; (3) multiple matching info series per
    (job, instance, step) resolve deterministically by max() per label
    instead of erroring."""

    inner: "PromNode"
    matchers: list[Matcher] = field(default_factory=list)


@dataclass
class PromSort:
    """sort(v) / sort_desc(v): presentation-order the result by value.
    ``sort_by_label(v, "lbl", ...)`` / ``sort_by_label_desc`` (Prometheus
    experimental functions) order by the named labels' string values
    instead, absent labels sorting as "".  Only meaningful at the top of
    an instant query (Prometheus ignores sorts in range queries and
    nested ones): the evaluator passes the inner frame through, and the
    vector renderer orders its collected samples by :func:`sort_vector`."""

    inner: "PromNode"
    ascending: bool = True
    by_labels: list[str] | None = None


@dataclass
class PromTopK:
    """topk/bottomk(k, vector): keep the k series with the highest (lowest)
    value at each step.  With ``by`` labels, k series are kept per
    (step, by-group); with ``without`` labels, per (step, every other
    label) — Prometheus `topk by/without (...)` semantics."""

    k: int
    ascending: bool
    inner: "PromNode"
    by: list[str] | None = None
    without: list[str] | None = None


@dataclass
class PromLimit:
    """limitk(k, v) / limit_ratio(r, v) — the Prometheus 3.x
    experimental sampling aggregations.  ``limitk`` keeps up to k
    series per (step, group); ``limit_ratio`` keeps the deterministic
    ~r fraction of series, and ``limit_ratio(r)`` + ``limit_ratio(r-1)``
    partition the series set exactly (a negative ratio selects the
    complement, upstream's contract).

    Determinism (documented deviation): upstream samples on
    ``labels.Hash()`` (xxhash); here the hash is the TOP 8 bytes of
    ``md5`` over the canonical labelset (sorted ``label=value`` pairs,
    absent labels omitted) so selection is stable across engines and
    reproducible in any SQL oracle (q138 recomputes it in DuckDB).
    Unlike `operators/relabel`'s ``hashmod`` — which must take the
    LAST 8 digest bytes for bit-exact Prometheus shard agreement —
    limitk's selection is documented as arbitrary upstream, so no
    byte-order compatibility constraint applies; only the complement
    contract does.  Each series hashes identically at every step, so
    the sample is consistent over time like upstream's.
    """

    k: int | None
    ratio: float | None
    inner: "PromNode"
    by: list[str] | None = None
    without: list[str] | None = None


PromNode = "PromExpr | PromBinary | PromTopK | float"


def _selector_core(expr: "PromExpr") -> "PromExpr":
    """A selector with its fused outer aggregation stripped: ``sum by
    (a) (f(m[w]))`` and ``sum by (a, b) (f(m[w]))`` share this core, so
    the evaluator computes the per-series frame once and aggregates it
    twice."""
    return replace(expr, agg=None, by=None, without=None)


def _cse_refs(node, refs: dict[str, int] | None = None) -> dict[str, int]:
    """How often a query references each subtree (by dataclass repr) —
    the evaluator pins a subtree referenced twice or more.  An
    aggregated selector also references its :func:`_selector_core`,
    except under ``@``, whose core evaluates on its own one-step grid.
    Scalar (float) operands are skipped — they are never evaluated."""
    if refs is None:
        refs = {}
    if not hasattr(node, "__dataclass_fields__"):
        return refs
    keys = [repr(node)]
    if isinstance(node, PromExpr) and node.agg and node.at_ms is None:
        keys.append(repr(_selector_core(node)))
    for key in keys:
        refs[key] = refs.get(key, 0) + 1
    for name in node.__dataclass_fields__:
        value = getattr(node, name)
        for child in value if isinstance(value, (list, tuple)) else (value,):
            if hasattr(child, "__dataclass_fields__"):
                _cse_refs(child, refs)
    return refs


class _Parser:
    _TOKEN = re.compile(
        r"""\s*(?:
            (?P<ident>[a-zA-Z_:][a-zA-Z0-9_:]*)
          | (?P<string>"(?:[^"\\]|\\.)*")
          | (?P<cmp>==|>=|<=|>|<)
          | (?P<op>=~|!~|!=|=)
          | (?P<duration_part>\d+(?:ms|s|m|h|d|w))
          | (?P<number>\d+(?:\.\d+)?)
          | (?P<binop>[+\-*/%^])
          | (?P<punct>[(){},\[\]@])
        )""",
        re.VERBOSE,
    )

    def __init__(self, text: str):
        self.tokens: list[tuple[str, str]] = []
        pos = 0
        while pos < len(text):
            if text[pos].isspace():
                pos += 1
                continue
            m = self._TOKEN.match(text, pos)
            if not m:
                raise ValueError(f"promql parse error at {text[pos:pos + 20]!r}")
            self.tokens.append((m.lastgroup, m.group(m.lastgroup)))
            pos = m.end()
        self.i = 0

    def peek(self):
        return self.tokens[self.i] if self.i < len(self.tokens) else (None, None)

    def next(self):
        tok = self.peek()
        self.i += 1
        return tok

    def expect(self, value: str):
        kind, tok = self.next()
        if tok != value:
            raise ValueError(f"expected {value!r}, got {tok!r}")

    def parse(self) -> "PromExpr | PromBinary":
        expr = self._set_or()
        if self.i != len(self.tokens):
            raise ValueError(f"trailing tokens: {self.tokens[self.i:]}")
        return expr

    def _set_or(self) -> "PromNode":
        # `or` is the loosest PromQL operator; `and`/`unless` bind tighter
        left = self._set_and()
        while True:
            kind, tok = self.peek()
            if kind != "ident" or tok != "or":
                return left
            self.next()
            mode, labels, group, _carry = self._maybe_matching()
            if group:
                raise ValueError("group_left/group_right invalid for set ops")
            left = PromSetOp(op="or", left=left, right=self._set_and(),
                             matching_mode=mode, matching=labels)

    def _set_and(self) -> "PromNode":
        left = self._compare()
        while True:
            kind, tok = self.peek()
            if kind != "ident" or tok not in ("and", "unless"):
                return left
            self.next()
            mode, labels, group, _carry = self._maybe_matching()
            if group:
                raise ValueError("group_left/group_right invalid for set ops")
            left = PromSetOp(op=tok, left=left, right=self._compare(),
                             matching_mode=mode, matching=labels)

    def _compare(self) -> "PromExpr | PromBinary | float":
        # comparisons bind loosest (Prometheus precedence); `bool` right
        # after the operator switches from filter to 0/1 semantics
        left = self._binary()
        while True:
            kind, tok = self.peek()
            is_cmp = kind == "cmp" or (kind == "op" and tok == "!=")
            if not is_cmp:
                return left
            self.next()
            bool_mode = False
            k2, t2 = self.peek()
            if k2 == "ident" and t2 == "bool":
                self.next()
                bool_mode = True
            mode, labels, group, carry = self._maybe_matching()
            left = PromBinary(op=tok, left=left, right=self._binary(),
                              matching_mode=mode, matching=labels,
                              group=group, group_carry=carry,
                              bool_mode=bool_mode)

    def _binary(self) -> "PromExpr | PromBinary | float":
        # precedence climbing: * / bind tighter than + -, both left-assoc
        left = self._muldiv()
        while True:
            kind, tok = self.peek()
            if kind != "binop" or tok not in ("+", "-"):
                return left
            self.next()
            mode, labels, group, carry = self._maybe_matching()
            left = _mk_arith(tok, left, self._muldiv(),
                             matching_mode=mode, matching=labels,
                             group=group, group_carry=carry)

    def _muldiv(self) -> "PromExpr | PromBinary | float":
        # * / % atan2 share one precedence level (Prometheus); `atan2`
        # only reads as an operator in infix position, so a metric NAMED
        # atan2 still parses as an operand
        left = self._pow()
        while True:
            kind, tok = self.peek()
            is_op = (kind == "binop" and tok in ("*", "/", "%")) or (
                kind == "ident" and tok == "atan2"
            )
            if not is_op:
                return left
            self.next()
            mode, labels, group, carry = self._maybe_matching()
            left = _mk_arith(tok, left, self._pow(),
                             matching_mode=mode, matching=labels,
                             group=group, group_carry=carry)

    def _pow(self) -> "PromExpr | PromBinary | float":
        # unary +/- bind tighter than every binary operator EXCEPT ^
        # (Prometheus: -1^2 == -(1^2)); compiled as 0 - expr, which the
        # scalar path folds for literals and evaluates value-wise for
        # vectors (labels kept, exactly Prometheus's unary semantics)
        kind, tok = self.peek()
        if kind == "binop" and tok in ("+", "-"):
            self.next()
            operand = self._pow()
            return operand if tok == "+" else _mk_arith("-", 0.0, operand)
        # ^ binds tightest of the arithmetic operators and is
        # RIGHT-associative: 2^3^2 = 2^(3^2) (Prometheus operator table)
        left = self._term()
        kind, tok = self.peek()
        if kind != "binop" or tok != "^":
            return left
        self.next()
        mode, labels, group, carry = self._maybe_matching()
        return _mk_arith("^", left, self._pow(),
                         matching_mode=mode, matching=labels,
                         group=group, group_carry=carry)

    def _label_list(self, ctx: str) -> list[str]:
        """``( label, ... )`` — possibly empty (``on()`` / ``by ()`` are
        Prometheus-legal)."""
        self.expect("(")
        labels: list[str] = []
        while True:
            k, nxt = self.next()
            if nxt == ")":
                break
            if k == "string":
                # Prometheus 3.x: quoted UTF-8 label names in grouping
                # lists (`by ("service.version")`) — escaped to their
                # column form at the parse boundary
                nxt = _escape_name(nxt[1:-1])
            elif k != "ident":
                raise ValueError(f"expected label in {ctx}(...), got {nxt!r}")
            labels.append(nxt)
            k, sep = self.peek()
            if sep == ",":
                self.next()
        return labels

    def _maybe_matching(self):
        """``on(l, ...)`` / ``ignoring(l, ...)`` [``group_left`` |
        ``group_right`` [``( carry, ... )``]] after a binary operator."""
        kind, tok = self.peek()
        if kind != "ident" or tok not in ("on", "ignoring"):
            return None, [], None, []
        self.next()
        labels = self._label_list(tok)
        group = None
        carry: list[str] = []
        kind, g = self.peek()
        if kind == "ident" and g in ("group_left", "group_right"):
            self.next()
            group = g.removeprefix("group_")
            # optional one-side label-copy list.  A "(" here always
            # reads as the carry list — Prometheus's grammar resolves
            # `group_left (x)` the same way (a parenthesized right
            # operand needs the list first or no parens)
            k2, t2 = self.peek()
            if t2 == "(":
                carry = self._label_list(g)
        return tok, labels, group, carry

    def _term(self) -> "PromExpr | float":
        kind, tok = self.peek()
        if tok == "(":
            # grouping parens: a full sub-expression (set ops included)
            self.next()
            inner = self._set_or()
            self.expect(")")
            return inner
        if kind == "number":
            self.next()
            return float(tok)
        return self._expr()

    def _peek_is_call(self) -> bool:
        nxt = (
            self.tokens[self.i + 1]
            if self.i + 1 < len(self.tokens)
            else (None, None)
        )
        return nxt[1] == "("

    def _expr(self) -> PromExpr:
        kind, tok = self.peek()
        if kind == "ident" and self._expr_dispatch_agg(tok):
            return self._agg()
        if kind == "ident" and tok in RANGE_FUNCS:
            return self._func()
        if kind == "ident" and tok in PARAM_RANGE_FUNCS:
            return self._param_range_func()
        if kind == "ident" and tok in MATH_FUNCS:
            return self._math_func()
        if kind == "ident" and tok == "label_replace":
            return self._label_replace()
        if kind == "ident" and tok == "label_join":
            return self._label_join()
        if kind == "ident" and tok == "histogram_quantile":
            return self._histogram_quantile()
        if kind == "ident" and tok == "histogram_fraction":
            return self._histogram_fraction_node()
        if kind == "ident" and tok in (
            "histogram_count",
            "histogram_sum",
            "histogram_avg",
        ):
            return self._histogram_accessor(tok)
        if kind == "ident" and tok in (
            "histogram_stddev",
            "histogram_stdvar",
        ):
            return self._histogram_std_node(tok)
        # call-position-only keywords: a metric may still be NAMED `hour`
        # etc. — only `hour(`... parses as the function (Prometheus
        # disambiguates the same way)
        if kind == "ident" and self._peek_is_call():
            if tok in TIME_FUNCS:
                self.next()
                self.expect("(")
                inner = self._set_or()
                self.expect(")")
                return PromTimeFunc(func=tok, inner=inner)
            if tok == "time":
                self.next()
                self.expect("(")
                self.expect(")")
                return PromTime()
            if tok == "vector":
                self.next()
                self.expect("(")
                kind, num = self.next()
                if kind != "number":
                    raise ValueError(f"vector() expects a scalar, got {num!r}")
                self.expect(")")
                return PromVector(value=float(num))
            if tok == "pi":
                self.next()
                self.expect("(")
                self.expect(")")
                return math.pi  # a scalar literal everywhere downstream
            if tok == "scalar":
                self.next()
                self.expect("(")
                inner = self._set_or()
                self.expect(")")
                return PromScalarFn(inner=inner)
            if tok == "absent":
                self.next()
                self.expect("(")
                inner = self._set_or()
                self.expect(")")
                return PromAbsent(inner=inner)
            if tok == "info":
                self.next()
                self.expect("(")
                inner = self._set_or()
                matchers: list[Matcher] = []
                k, nxt = self.peek()
                if nxt == ",":
                    self.next()
                    matchers, qm = self._matcher_block()
                    if qm:
                        # info()'s data selector: a bare quoted string
                        # names the data METRIC to join
                        matchers.append(Matcher("__name__", "=", qm))
                self.expect(")")
                return PromInfo(inner=inner, matchers=matchers)
            if tok in ("sort", "sort_desc"):
                self.next()
                self.expect("(")
                inner = self._set_or()
                self.expect(")")
                return PromSort(inner=inner, ascending=(tok == "sort"))
            if tok in ("sort_by_label", "sort_by_label_desc"):
                self.next()
                self.expect("(")
                inner = self._set_or()
                labels = []
                while True:
                    kind, nxt = self.peek()
                    if nxt != ",":
                        break
                    self.next()
                    kind, s = self.next()
                    if kind != "string":
                        raise ValueError(
                            f"{tok} expects label strings, got {s!r}"
                        )
                    labels.append(s[1:-1])
                self.expect(")")
                if not labels:
                    raise ValueError(f"{tok} needs at least one label")
                return PromSort(
                    inner=inner,
                    ascending=(tok == "sort_by_label"),
                    by_labels=labels,
                )
        return self._selector()

    def _label_join(self):
        self.next()
        self.expect("(")
        inner = self._compare()
        strs = []
        while True:
            kind, tok = self.peek()
            if tok != ",":
                break
            self.next()
            kind, s = self.next()
            if kind != "string":
                raise ValueError(f"label_join expects strings, got {s!r}")
            strs.append(s[1:-1])
        self.expect(")")
        if len(strs) < 2:
            raise ValueError("label_join needs dst, sep[, src...]")
        # dst/srcs are label NAMES: map UTF-8 names to column form
        return PromLabelJoin(
            inner=inner, dst=_escape_name(strs[0]), sep=strs[1],
            srcs=[_escape_name(s) for s in strs[2:]],
        )

    def _math_func(self):
        _, fn = self.next()
        self.expect("(")
        inner = self._compare()
        params = []
        for _ in range(MATH_FUNCS[fn]):
            kind, tok = self.peek()
            if tok != ",":
                break  # optional trailing params (e.g. round's to_nearest)
            self.next()
            kind, num = self.next()
            if kind != "number":
                raise ValueError(f"{fn} expects numeric params, got {num!r}")
            params.append(float(num))
        self.expect(")")
        return PromMathFunc(func=fn, inner=inner, params=params)

    def _histogram_quantile(self):
        self.next()
        self.expect("(")
        kind, num = self.next()
        if kind != "number":
            raise ValueError(f"histogram_quantile expects q, got {num!r}")
        self.expect(",")
        inner = self._compare()
        self.expect(")")
        return PromHistogramQuantile(q=float(num), inner=inner)

    def _histogram_accessor(self, fn: str):
        """histogram_count / histogram_sum / histogram_avg over the
        classic reduction: EXACT sugar, not an estimate — the native
        histogram's count and sum fields land as ``<name>_count`` /
        ``<name>_sum`` series (`histograms.expand_to_classic`), so the
        accessors rewrite the selector's metric name (avg is the
        sum/count vector division; selector outputs drop __name__, so
        the division matches on the remaining shared labels exactly
        like Prometheus's name-ignoring vector matching)."""
        import dataclasses

        self.next()
        self.expect("(")
        inner = self._compare()
        self.expect(")")
        if (
            not isinstance(inner, PromExpr)
            or not inner.metric
            or inner.agg is not None
            or inner.func is not None
        ):
            raise ValueError(f"{fn} expects a plain instant selector")
        if fn == "histogram_count":
            return dataclasses.replace(
                inner, metric=inner.metric + "_count"
            )
        if fn == "histogram_sum":
            return dataclasses.replace(inner, metric=inner.metric + "_sum")
        return PromBinary(
            op="/",
            left=dataclasses.replace(inner, metric=inner.metric + "_sum"),
            right=dataclasses.replace(
                inner, metric=inner.metric + "_count"
            ),
        )

    def _histogram_std_node(self, fn: str):
        self.next()
        self.expect("(")
        inner = self._compare()
        self.expect(")")
        if (
            not isinstance(inner, PromExpr)
            or not inner.metric
            or inner.agg is not None
            or inner.func is not None
        ):
            raise ValueError(f"{fn} expects a plain instant selector")
        return PromHistogramStd(
            stddev=(fn == "histogram_stddev"), inner=inner
        )

    def _histogram_fraction_node(self):
        self.next()
        self.expect("(")
        bounds = []
        for _ in range(2):
            kind, num = self.next()
            sign = 1.0
            if kind == "binop" and num in ("-", "+"):
                sign = -1.0 if num == "-" else 1.0
                kind, num = self.next()
            if kind == "number":
                bounds.append(sign * float(num))
            elif kind == "ident" and num.lower() in ("inf", "+inf"):
                bounds.append(sign * float("inf"))
            else:
                raise ValueError(
                    f"histogram_fraction expects scalar bounds, got {num!r}"
                )
            self.expect(",")
        inner = self._compare()
        self.expect(")")
        return PromHistogramFraction(
            lower=bounds[0], upper=bounds[1], inner=inner
        )

    def _param_range_func(self) -> PromExpr:
        _, fn = self.next()
        self.expect("(")
        kind, num = self.next()
        if kind != "number":
            raise ValueError(f"{fn} expects a scalar first arg, got {num!r}")
        self.expect(",")
        sel = self._selector()
        self.expect("[")
        kind, dur = self.next()
        if kind != "duration_part":
            raise ValueError(f"expected duration, got {dur!r}")
        self.expect("]")
        self._maybe_modifiers(sel)
        self.expect(")")
        sel.func = fn
        sel.range_ms = parse_duration_ms(dur)
        sel.func_param = float(num)
        return sel

    def _label_replace(self):
        self.next()
        self.expect("(")
        inner = self._compare()
        strs = []
        for _ in range(4):
            self.expect(",")
            kind, s = self.next()
            if kind != "string":
                raise ValueError(f"label_replace expects strings, got {s!r}")
            strs.append(s[1:-1])
        self.expect(")")
        # dst/src are label NAMES: map UTF-8 names to column form
        return PromLabelReplace(
            inner=inner, dst=_escape_name(strs[0]), replacement=strs[1],
            src=_escape_name(strs[2]), regex=strs[3],
        )

    def _expr_dispatch_agg(self, tok: str) -> bool:
        return (tok in AGG_OPS or tok in PARAM_AGG_OPS
                or tok in ("count_values", "quantile"))

    def _maybe_grouping(self) -> tuple[list[str] | None, list[str] | None]:
        """Parse an optional ``by (...)`` / ``without (...)`` clause at
        the cursor -> (by, without).  Prometheus's grammar allows the
        clause BEFORE or AFTER the aggregation's argument list
        (``sum by (a) (v)`` == ``sum(v) by (a)``); _agg calls this in
        both positions."""
        kind, tok = self.peek()
        if not (kind == "ident" and tok in ("by", "without")):
            return None, None
        self.next()
        # `by ()` / `without ()` with an EMPTY list is Prometheus-legal:
        # `sum by () (v)` == `sum(v)`, `sum without () (v)` groups by
        # every label
        labels = self._label_list(tok)
        return (labels, None) if tok == "by" else (None, labels)

    def _agg(self) -> PromExpr:
        _, op = self.next()
        by, without = self._maybe_grouping()

        def postfix_grouping():
            # the clause may follow the argument list instead; both
            # positions at once is a Prometheus parse error too
            nonlocal by, without
            if by is None and without is None:
                by, without = self._maybe_grouping()

        self.expect("(")
        if op == "count_values":
            kind, s = self.next()
            if kind != "string":
                raise ValueError(f"count_values expects a label string, got {s!r}")
            self.expect(",")
            inner = self._compare()
            self.expect(")")
            postfix_grouping()
            return PromCountValues(
                label=s[1:-1], inner=inner, by=by, without=without
            )
        if op in PARAM_AGG_OPS or op == "quantile":
            # topk(k, <any vector expression>): a per-step series filter,
            # not a grouping aggregation; quantile(phi, v) IS one
            kind, num = self.next()
            sign = 1.0
            if kind == "binop" and num in ("-", "+"):
                # limit_ratio takes signed ratios (negative = complement)
                sign = -1.0 if num == "-" else 1.0
                kind, num = self.next()
            if kind != "number":
                raise ValueError(f"{op} expects a numeric first arg, got {num!r}")
            self.expect(",")
            inner = self._compare()
            self.expect(")")
            postfix_grouping()
            if op == "quantile":
                return PromQuantileAgg(phi=sign * float(num), inner=inner,
                                       by=by, without=without)
            if op == "limitk":
                return PromLimit(k=int(sign * float(num)), ratio=None,
                                 inner=inner, by=by, without=without)
            if op == "limit_ratio":
                r = sign * float(num)
                if not -1.0 <= r <= 1.0:
                    raise ValueError(
                        f"limit_ratio expects a ratio in [-1, 1], got {r}"
                    )
                return PromLimit(k=None, ratio=r, inner=inner,
                                 by=by, without=without)
            return PromTopK(k=int(sign * float(num)),
                            ascending=(op == "bottomk"),
                            inner=inner, by=by, without=without)
        # any vector expression (range function, binary, set op...) —
        # `sum(rate(a[5m]) / rate(b[5m]))` included; a plain selector or
        # range function keeps the fused selector+agg fast path below
        inner = self._set_or()
        self.expect(")")
        postfix_grouping()
        if not isinstance(inner, PromExpr):
            # e.g. a subquery operand: aggregate its result generically
            return PromAgg(op=op, inner=inner, by=by, without=without)
        inner.agg = op
        inner.by = by or ([] if without is None else None)
        inner.without = without
        return inner

    def _func(self) -> "PromExpr | PromSubquery":
        _, fn = self.next()
        fn = FUNC_ALIASES.get(fn, fn)
        self.expect("(")
        # a full sub-expression: a plain selector parse stops right before
        # the `[`; anything more complex must be a subquery
        inner = self._set_or()
        self.expect("[")
        kind, dur = self.next()
        if kind != "duration_part":
            raise ValueError(f"expected duration, got {dur!r}")
        sub_ms = None
        kind, tok = self.peek()
        if kind == "ident" and tok.startswith(":"):
            # `[1h:5m]` — the tokenizer folds `:5m` into one ident
            self.next()
            if len(tok) == 1:
                raise ValueError(
                    "subquery needs an explicit resolution step ([d:s])"
                )
            sub_ms = parse_duration_ms(tok[1:])
        self.expect("]")
        range_ms = parse_duration_ms(dur)

        func_param = None
        func_param2 = None
        if sub_ms is None:
            if not isinstance(inner, PromExpr) or inner.func is not None:
                raise ValueError(
                    f"{fn} over an expression needs a subquery ([d:s])"
                )
            self._maybe_modifiers(inner)
        params = []
        for _ in range(TRAILING_SCALARS.get(fn, 0)):
            # e.g. predict_linear(v[d], t), holt_winters(v[d], sf, tf)
            self.expect(",")
            kind, num = self.next()
            if kind != "number":
                raise ValueError(f"{fn} expects scalar params, got {num!r}")
            params.append(float(num))
        if params:
            func_param = params[0]
        if len(params) > 1:
            func_param2 = params[1]
        self.expect(")")
        if sub_ms is not None:
            return PromSubquery(
                func=fn,
                inner=inner,
                range_ms=range_ms,
                step_ms=sub_ms,
                func_param=func_param,
                func_param2=func_param2,
            )
        inner.func = fn
        inner.range_ms = range_ms
        inner.func_param = func_param
        inner.func_param2 = func_param2
        return inner

    def _maybe_modifiers(self, sel: "PromExpr") -> None:
        """``offset [-]<dur>`` and/or ``@ (<unix-seconds> | start() |
        end())``, either order (Prometheus 2.x modifier grammar;
        negative offsets look forward, ``@ start()``/``end()`` pin to
        the query range's edges and resolve at evaluation time)."""
        while True:
            kind, tok = self.peek()
            if kind == "ident" and tok == "offset":
                self.next()
                sign = 1
                k, dur = self.next()
                if k == "binop" and dur == "-":
                    sign = -1
                    k, dur = self.next()
                if k != "duration_part":
                    raise ValueError(
                        f"expected duration after offset, got {dur!r}"
                    )
                sel.offset_ms = sign * parse_duration_ms(dur)
            elif kind == "punct" and tok == "@":
                self.next()
                k, num = self.next()
                if k == "ident" and num in ("start", "end"):
                    self.expect("(")
                    self.expect(")")
                    sel.at_ms = num  # resolved against the query range
                elif k == "number":
                    sel.at_ms = int(float(num) * 1000)
                else:
                    raise ValueError(
                        "expected unix seconds, start() or end() after @,"
                        f" got {num!r}"
                    )
            else:
                return

    def _matcher_block(
        self, metric_set: bool = False
    ) -> tuple[list[Matcher], str]:
        """``{name op "value", ...}`` with the ``{`` NOT yet consumed.

        Prometheus 3.x UTF-8 name syntax rides the same braces: a BARE
        quoted string is the metric name (``{"my.metric", lbl="x"}`` ==
        ``my.metric`` — returned as the second element so the caller
        records it on ``PromExpr.metric`` and the engine-level
        ``metric_label`` substitution applies uniformly, never a
        hard-coded ``__name__`` matcher), and a quoted string followed
        by an op is a quoted LABEL name (``{"label.name"="v"}``) —
        names no longer restricted to the classic ident charset."""
        self.expect("{")
        matchers: list[Matcher] = []
        quoted_metric = ""
        name_seen = metric_set
        while True:
            k, name = self.next()
            if name == "}":
                break
            if k == "string":
                k2, nxt = self.peek()
                if nxt in (",", "}"):
                    # bare quoted string == the metric name
                    if name_seen:
                        raise ValueError(
                            "metric name must not be set twice: "
                            f"{name!r}"
                        )
                    name_seen = True
                    quoted_metric = name[1:-1]
                    if nxt == ",":
                        self.next()
                    continue
                # quoted label NAME: non-legacy (dotted/UTF-8) names
                # map to their U__ value-encoded COLUMN name at the
                # parse boundary (names.py) — identity for classic
                # names, so everything downstream stays identifier-safe
                name = _escape_name(name[1:-1])
            elif k != "ident":
                raise ValueError(f"expected label name, got {name!r}")
            _, op = self.next()
            if op not in ("=", "!=", "=~", "!~"):
                raise ValueError(f"bad matcher op {op!r}")
            k, val = self.next()
            if k != "string":
                raise ValueError(f"expected quoted value, got {val!r}")
            matchers.append(Matcher(name, op, val[1:-1]))
            k, nxt = self.peek()
            if nxt == ",":
                self.next()
        return matchers, quoted_metric

    def _selector(self) -> PromExpr:
        k, tok = self.peek()
        metric = ""
        if tok != "{":
            kind, metric = self.next()
            if kind != "ident":
                raise ValueError(f"expected metric name, got {metric!r}")
        matchers: list[Matcher] = []
        k, tok = self.peek()
        if tok == "{":
            matchers, quoted = self._matcher_block(metric_set=bool(metric))
            metric = metric or quoted
        if not metric and not matchers:
            raise ValueError(
                "vector selector must contain at least one matcher"
            )
        sel = PromExpr(metric=metric, matchers=matchers)
        # instant-selector modifiers (`m offset 1h @ 1704153600`); a range
        # selector's modifiers follow the `[dur]` bracket (see _func)
        self._maybe_modifiers(sel)
        return sel


def parse_promql(text: str) -> PromExpr:
    return _Parser(text).parse()


_FUNC_AGGS = {
    "count_over_time": lambda: F.count(F.lit(1)).cast("double"),
    "sum_over_time": lambda: F.sum("value"),
    "avg_over_time": lambda: F.avg("value"),
    "min_over_time": lambda: F.min("value"),
    "max_over_time": lambda: F.max("value"),
    "last_over_time": lambda: F.max_by("value", "ts"),
    # experimental first_over_time: the OLDEST sample in the window
    # (like last_over_time it never skips NaN — the first point wins
    # regardless of its value).  Struct-min, not min_by: a real series
    # never repeats a timestamp so the tie rule is unobservable
    # upstream, but synthetic frames can — (ts, value) lexicographic
    # keeps the reduce deterministic for the oracle
    "first_over_time": lambda: (
        F.min(F.struct(F.col("ts"), F.col("value"))).getField("value")
    ),
    "present_over_time": lambda: F.max(F.lit(1.0)),
    "stddev_over_time": lambda: F.stddev_pop("value"),
    "stdvar_over_time": lambda: F.var_pop("value"),
    # Prometheus 3.5 experimental ts_of_* family: the SECONDS timestamp
    # of the last / max / min sample in the window.  Tie rule mirrors
    # the upstream loops' non-strict comparison (a later equal sample
    # replaces the held one, so ties resolve to the LATEST timestamp);
    # NaN samples are skipped via the nan-filter below, matching
    # Prometheus where NaN never wins a </> comparison against a held
    # non-NaN value.
    "ts_of_last_over_time": lambda: F.max("ts") / F.lit(1000.0),
    "ts_of_first_over_time": lambda: F.min("ts") / F.lit(1000.0),
    "ts_of_max_over_time": lambda: (
        F.max(
            F.when(
                ~F.isnan("value"), F.struct(F.col("value"), F.col("ts"))
            )
        ).getField("ts")
        / F.lit(1000.0)
    ),
    "ts_of_min_over_time": lambda: (
        F.max(
            F.when(
                ~F.isnan("value"), F.struct(-F.col("value"), F.col("ts"))
            )
        ).getField("ts")
        / F.lit(1000.0)
    ),
}

#: range functions needing the window's samples as one sorted array
_ARRAY_FUNCS = {
    "rate", "increase", "delta", "idelta", "irate", "changes", "resets",
}

_OUTER_AGGS = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "avg": F.avg,
    "count": lambda c: F.count(c).cast("double"),
    "stddev": F.stddev_pop,
    "stdvar": F.var_pop,
    "group": lambda c: F.max(F.lit(1.0)),
}

def _grouping(
    columns: "list[str]", by: "list[str] | None", without: "list[str] | None"
) -> list[str]:
    """Grouping labels of a ``by``/``without`` clause over a frame's
    label ``columns`` (``t``/``value`` are never labels).  A ``by``
    label no series carries groups as absent, so it drops out."""
    labels = [c for c in columns if c not in ("t", "value")]
    if without is not None:
        return [c for c in labels if c not in without]
    return [c for c in by or [] if c in labels]


class _Evaluation:
    """The state of ONE ``query_range`` call: the subtree memo, the
    reference counts and the pinned frames.  The call builds it and
    drops it, so concurrent queries on one engine share nothing but the
    engine's ``shared_scan`` pin; the engine's evaluator methods receive
    it as ``ev`` and evaluate their operands through :meth:`eval`."""

    def __init__(self, engine: "PromQLEngine", node):
        self.engine = engine
        self.refs = _cse_refs(node)
        self.memo: dict[tuple, DataFrame] = {}
        self.pinned: list[DataFrame] = []

    def eval(
        self, node, start_ms: int, end_ms: int, step_ms: int, lookback_ms: int
    ) -> DataFrame:
        """Memoizing dispatcher: structurally identical subtrees evaluated
        on the same grid reuse one DataFrame, and subtrees the query
        references more than once are pinned (:meth:`_pin`) so Spark
        executes them once instead of once per reference (e.g. ``a and
        b or a`` pays one decode/scan for ``a``, not two).  ``repr`` of
        the dataclass AST is the structural key."""
        fp = repr(node)
        key = (fp, start_ms, end_ms, step_ms, lookback_ms)
        if key not in self.memo:
            out = self.engine._eval_inner(
                self, node, start_ms, end_ms, step_ms, lookback_ms
            )
            if self.refs.get(fp, 0) >= 2 and not isinstance(
                node, (PromTime, PromVector)
            ):
                out = self._pin(out)
            self.memo[key] = out
        return self.memo[key]

    def _pin(self, df: DataFrame) -> DataFrame:
        """Mark a shared subtree compute-once for this evaluation — lazy:
        materialized by the first action, reused after, so single-shot
        subtrees never pay it.

        ``localCheckpoint(eager=False)`` deliberately, not ``persist``:
        both give every reference in the final plan one materialization,
        but the InMemoryRelation cache pays a large one-time codegen cost
        for its columnar writer (measured ~12 s on first use per session,
        independent of data size) and plans over it lose AQE statistics,
        while the checkpoint is a plain block-backed RDD.  Trade-off
        accepted with eyes open: checkpoint blocks are NOT fault-tolerant
        (an executor loss during one evaluation fails the query instead
        of recomputing — acceptable for an interactive query engine:
        the loss window is one evaluation, and the caller retries), and
        release is by reference-drop: once this evaluation and the
        caller's result are gone, Spark's ContextCleaner frees the
        blocks.  The ENGINE-LIFETIME shared-scan pin has the stronger
        story: it is health-checked at each ``query_range`` and rebuilt
        from source when blocks were lost
        (:meth:`PromQLEngine._shared_scan_alive`)."""
        df = df.localCheckpoint(eager=False)
        self.pinned.append(df)
        return df


class PromQLEngine:
    """Evaluates the PromQL subset over a samples DataFrame.

    ``samples``: columns ``ts`` (int64 Unix ms), ``value`` (double) and one
    string column per label; the metric name lives in ``__name__``
    (reference label convention, `db/writer.go:16-17`).

    Each ``query_range`` keeps its evaluation state in its own
    :class:`_Evaluation`; the engine holds no field a query writes except
    the lazily built ``shared_scan`` pin, so one engine serves concurrent
    queries without a lock.
    """

    def __init__(
        self,
        samples: DataFrame,
        metric_label: str = "__name__",
        extrapolate: bool = False,
        shared_scan: bool = False,
        samples_transform=None,
    ):
        #: ``extrapolate=True`` enables Prometheus's window-edge
        #: extrapolation for rate/increase (see _range_value); the default
        #: stays off so results remain the plain last-first-over-span form
        #: a SQL oracle mirrors trivially.
        self.samples = samples
        self.metric_label = metric_label
        self.extrapolate = extrapolate
        #: ``shared_scan=True`` materializes the samples frame ONCE per
        #: engine lifetime (lazy localCheckpoint, first query pays it) and
        #: serves every subsequent selector from the checkpointed blocks.
        #: This is the multi-query session accelerator: each query's plan
        #: starts at a block scan instead of re-running scan+decode, so
        #: both the per-query wall time AND the first-execution Catalyst/
        #: codegen cost shrink (smaller novel plan trees).  The trade,
        #: accepted explicitly: selector matchers no longer reach the
        #: parquet scan (the decode runs once WITHOUT pushdown), and the
        #: whole frame is held in executor block storage — so enable it
        #: only when the samples frame is already time/series-bounded to a
        #: working set many queries will share, never on an unbounded
        #: 100 TB store.  Default off: single-query evaluation keeps full
        #: predicate pushdown.  Measured (r08, sf0.1, 6 warm queries,
        #: local[32]): first query 0.64 s -> 1.03 s (pays the
        #: materialization), every later query ~0.5-0.65 s -> ~0.4-0.5 s;
        #: session break-even at ~3 queries, win grows with session
        #: length (the corpus's 12-query PromQL session keeps it on).
        #: The pin self-heals: lost executor blocks are detected and the
        #: working set rebuilt at the next query (_shared_scan_alive).
        self._shared_scan = shared_scan
        self._scan_pin: DataFrame | None = None
        #: ``samples_transform``: an optional per-query frame rewrite,
        #: ``(samples, start_ms | None, end_ms | None) -> DataFrame``
        #: (inclusive ts bounds; None = unbounded), applied to the base
        #: frame at every selector evaluation with THAT selector's exact
        #: window — the hook the serve path uses for per-request-bounded
        #: HA replica dedup (`operators.replicas.dedup_replicas` with
        #: ``ts_bounds``) instead of a startup full-store vote.  The
        #: contract: the transform may drop label columns (e.g. the
        #: replica label) and drop/choose rows, but must not CHANGE the
        #: series set of the surviving rows — metadata endpoints read
        #: the transformed SCHEMA off the base frame without paying the
        #: per-row work (:meth:`metadata_frame`).  Matcher filters apply
        #: ABOVE the transform; Catalyst pushes label predicates through
        #: the vote's window/aggregate/semi-join to both scan sides
        #: (verified in the physical plan), so pushdown is preserved.
        self.samples_transform = samples_transform
        schema_src = (
            samples
            if samples_transform is None
            else samples_transform(samples, None, None)
        )
        self._transformed_cols = list(schema_src.columns)
        #: staleness-aware mode: a boolean ``is_stale`` column (e.g. from
        #: `tsdb_wal.wal_to_samples_frame(stale="mark")`) flags Prometheus
        #: stale markers.  Instant selections return NO value for a series
        #: whose most recent in-window sample is a marker (the marker
        #: terminates the lookback, exactly Prometheus's staleness rule);
        #: range selections exclude markers entirely (they are not
        #: samples).  Without the column, behavior is unchanged.
        self.stale_aware = "is_stale" in schema_src.columns
        self.label_columns = [
            c
            for c in schema_src.columns
            if c not in ("ts", "value", "is_stale")
        ]

    def _samples_frame(self) -> DataFrame:
        """Selector input: the raw samples plan, or the engine-lifetime
        checkpoint when ``shared_scan`` is on.  Unlike the CSE pins of
        one evaluation (:class:`_Evaluation`), this pin is the
        cross-evaluation working set, held by the engine.  The pin is
        PRE-transform: a ``samples_transform`` runs above the
        checkpointed blocks per query, so e.g. the replica vote
        aggregates in-memory data bounded to the query's buckets."""
        if not self._shared_scan:
            return self.samples
        if self._scan_pin is None:
            self._scan_pin = self.samples.localCheckpoint(eager=False)
        return self._scan_pin

    def bounded_samples(
        self, start_ms: int | None = None, end_ms: int | None = None
    ) -> DataFrame:
        """The base samples frame with ``samples_transform`` applied at
        the given inclusive ts bounds — the per-query entry point for
        protocol servers (remote-read) that compile their own matchers
        and time filters instead of going through a PromQL node."""
        base = self._samples_frame()
        if self.samples_transform is not None:
            base = self.samples_transform(base, start_ms, end_ms)
        return base

    def metadata_frame(self) -> DataFrame:
        """Samples frame for metadata reads (series/labels/values/
        federate/stats): the TRANSFORMED schema projected straight off
        the base frame, without the transform's per-row work — under
        the transform contract (it never changes the series SET) the
        answer matches the value endpoints up to two documented
        bucket-edge divergences of the Thanos-style metadata trade:
        ``/series`` with a time range may report a series whose only
        in-range samples belong to the LOSING replica of an edge vote
        bucket (the winner's clipped output is empty there), and
        ``/status/tsdb`` head stats count BOTH replicas' samples
        rather than the deduplicated stream.  Label names/values and
        the series identity space are exact either way — e.g. the
        replica label stays hidden while the winner vote is skipped."""
        base = self._samples_frame()
        if self.samples_transform is None:
            return base
        return base.select(*self._transformed_cols)

    def matched_samples(
        self,
        matchers: "list[Matcher]",
        start_ms: int | None = None,
        end_ms: int | None = None,
        metadata: bool = False,
    ) -> DataFrame:
        """Samples of the series ``matchers`` select with ``start_ms <=
        ts <= end_ms`` (None = unbounded): the one selection seam of
        every engine reader — PromQL selectors, series/labels/values,
        federate and both remote-read paths.  The base frame is
        :meth:`bounded_samples` at these bounds, or :meth:`metadata_frame`
        for ``metadata`` callers; matchers go through
        `operators.selection.apply_matchers` (absent labels included),
        then the ``ts`` window, so both reach the Parquet scan as pushed
        filters."""
        df = (
            self.metadata_frame()
            if metadata
            else self.bounded_samples(start_ms, end_ms)
        )
        df = apply_matchers(df, matchers)
        if start_ms is not None:
            df = df.filter(F.col("ts") >= F.lit(start_ms))
        if end_ms is not None:
            df = df.filter(F.col("ts") <= F.lit(end_ms))
        return df

    def _shared_scan_alive(self) -> bool:
        """True when every materialized block of the shared-scan
        checkpoint is still present in the block manager.

        ``localCheckpoint`` blocks are NOT fault-tolerant: lineage is
        truncated, so losing an executor loses its blocks and any later
        query over the pin dies with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
        instead of recomputing.  This probe (used by ``query_range`` to
        rebuild the pin from source before planning) asks the block-
        manager master for each partition's block — O(partitions)
        driver-side RPCs, no job, no data movement.  A not-yet-
        materialized lazy pin has nothing to lose and reports alive.
        Reflection into the JVM plan is version-sensitive; any failure
        reports alive, degrading to the old fail-on-collect behavior
        rather than spuriously dropping a healthy cache."""
        pin = self._scan_pin
        try:
            jrdd = pin._jdf.queryExecution().analyzed().rdd()
            if not jrdd.isCheckpointed():
                return True
            sc = pin.sparkSession.sparkContext
            master = sc._jsc.sc().env().blockManager().master()
            block_id = sc._jvm.org.apache.spark.storage.RDDBlockId
            rid = jrdd.id()
            return all(
                master.contains(block_id(rid, p))
                for p in range(jrdd.getNumPartitions())
            )
        except Exception:  # pragma: no cover - JVM-internal reflection
            return True

    def query_range(
        self,
        promql: str,
        start_ms: int,
        end_ms: int,
        step_ms: int,
        lookback_ms: int = DEFAULT_LOOKBACK_MS,
    ) -> DataFrame:
        """Evaluate at steps t = start, start+step, ..., <=end.  Output:
        (t BIGINT, <series or by labels>..., value DOUBLE).

        The frame is UNORDERED: order is a rendering concern, owned by
        the boundary that collects it (`to_api_response` orders a
        matrix by labels, `to_api_instant_response` a vector by
        :func:`sort_vector`, which applies a top-level ``sort*``).  A
        distributed sort here would cost a range-partition sampling job
        and a shuffle that the driver-side collect then redoes."""
        node = parse_promql(promql)
        if isinstance(node, float):
            raise ValueError("scalar-only query has no vector result")
        if (
            self._shared_scan
            and self._scan_pin is not None
            and not self._shared_scan_alive()
        ):
            # an executor loss killed checkpoint blocks: rebuild the
            # working set from source instead of failing this query
            self._scan_pin = None
        node = self._route(node, start_ms, end_ms, step_ms, lookback_ms)
        return _Evaluation(self, node).eval(
            node, start_ms, end_ms, step_ms, lookback_ms
        )

    def _route(self, node, start_ms, end_ms, step_ms, lookback_ms):
        """AST hook between parse and eval; the rollup-routed engine
        (`plans/routing.py`) overrides this to serve aligned range
        selectors from a downsampled store."""
        return node

    def _eval_inner(
        self, ev, node, start_ms: int, end_ms: int, step_ms: int,
        lookback_ms: int,
    ) -> DataFrame:
        if isinstance(node, PromBinary):
            return self._eval_binary(
                ev, node, start_ms, end_ms, step_ms, lookback_ms
            )
        if isinstance(node, PromTopK):
            inner = ev.eval(node.inner, start_ms, end_ms, step_ms, lookback_ms)
            return self._topk(
                inner, node.k, node.ascending, node.by, node.without
            )
        if isinstance(node, PromLimit):
            inner = ev.eval(node.inner, start_ms, end_ms, step_ms, lookback_ms)
            return self._limit_series(inner, node)
        if isinstance(node, PromMathFunc):
            inner = ev.eval(node.inner, start_ms, end_ms, step_ms, lookback_ms)
            return inner.withColumn(
                "value", self._math_column(node.func, node.params)
            )
        if isinstance(node, PromLabelReplace):
            inner = ev.eval(node.inner, start_ms, end_ms, step_ms, lookback_ms)
            return self._label_replace(inner, node)
        if isinstance(node, PromHistogramQuantile):
            inner = ev.eval(node.inner, start_ms, end_ms, step_ms, lookback_ms)
            return self._histogram_quantile(inner, node.q)
        if isinstance(node, PromHistogramFraction):
            inner = ev.eval(node.inner, start_ms, end_ms, step_ms, lookback_ms)
            return self._histogram_fraction(inner, node.lower, node.upper)
        if isinstance(node, PromHistogramStd):
            return self._histogram_std(
                ev, node, start_ms, end_ms, step_ms, lookback_ms
            )
        if isinstance(node, PromCountValues):
            inner = ev.eval(node.inner, start_ms, end_ms, step_ms, lookback_ms)
            return self._count_values(inner, node)
        if isinstance(node, PromSetOp):
            return self._eval_setop(
                ev, node, start_ms, end_ms, step_ms, lookback_ms
            )
        if isinstance(node, PromSort):
            # ordering is applied by the renderer (sort_vector); nested
            # sorts are presentation no-ops
            return ev.eval(node.inner, start_ms, end_ms, step_ms, lookback_ms)
        if isinstance(node, PromAbsent):
            return self._absent_instant(
                ev, node, start_ms, end_ms, step_ms, lookback_ms
            )
        if isinstance(node, PromInfo):
            inner = ev.eval(node.inner, start_ms, end_ms, step_ms, lookback_ms)
            return self._info(
                ev, inner, node, start_ms, end_ms, step_ms, lookback_ms
            )
        if isinstance(node, PromTime):
            return self._steps_frame(start_ms, end_ms, step_ms).select(
                "t", (F.col("t") / F.lit(1000.0)).alias("value")
            )
        if isinstance(node, PromVector):
            return self._steps_frame(start_ms, end_ms, step_ms).select(
                "t", F.lit(node.value).cast("double").alias("value")
            )
        if isinstance(node, PromScalarFn):
            inner = ev.eval(node.inner, start_ms, end_ms, step_ms, lookback_ms)
            # one tiny shuffle keyed on t; NaN where the step has >1 series
            return (
                inner.groupBy("t")
                .agg(
                    F.count(F.lit(1)).alias("__n"),
                    F.max("value").alias("value"),
                )
                .select(
                    "t",
                    F.when(F.col("__n") == 1, F.col("value"))
                    .otherwise(F.lit(float("nan")))
                    .alias("value"),
                )
            )
        if isinstance(node, PromTimeFunc):
            inner = ev.eval(node.inner, start_ms, end_ms, step_ms, lookback_ms)
            return inner.withColumn("value", self._time_column(node.func))
        if isinstance(node, PromLabelJoin):
            inner = ev.eval(node.inner, start_ms, end_ms, step_ms, lookback_ms)
            parts = [
                F.col(s) if s in inner.columns else F.lit("")
                for s in node.srcs
            ]
            return inner.withColumn(
                node.dst, F.concat_ws(node.sep, *parts)
            )
        if isinstance(node, PromSubquery):
            return self._eval_subquery(
                ev, node, start_ms, end_ms, step_ms, lookback_ms
            )
        if isinstance(node, PromAgg):
            inner = ev.eval(node.inner, start_ms, end_ms, step_ms, lookback_ms)
            by = _grouping(inner.columns, node.by, node.without)
            return inner.groupBy("t", *by).agg(
                _OUTER_AGGS[node.op](F.col("value")).alias("value")
            )
        if isinstance(node, PromQuantileAgg):
            inner = ev.eval(node.inner, start_ms, end_ms, step_ms, lookback_ms)
            by = _grouping(inner.columns, node.by, node.without)
            return inner.groupBy("t", *by).agg(
                F.percentile("value", F.lit(node.phi)).alias("value")
            )
        if node.agg is None and node.at_ms is None:
            return self._selector_series(
                node, start_ms, end_ms, step_ms, lookback_ms
            )
        return self._eval_expr(
            ev, node, start_ms, end_ms, step_ms, lookback_ms
        )

    def _steps_frame(self, start_ms, end_ms, step_ms) -> DataFrame:
        """The step axis as a one-column frame — O(steps) rows, built on
        the driver-side literal sequence (no scan)."""
        return self.samples.sparkSession.range(1).select(
            F.explode(
                F.sequence(F.lit(start_ms), F.lit(end_ms), F.lit(step_ms))
            ).alias("t")
        )

    @staticmethod
    def _time_column(func: str):
        """Calendar functions of the sample value as epoch seconds, UTC
        (requires the UTC session TZ that configure_session pins).
        ``timestamp`` instead reads the evaluation step time."""
        if func == "timestamp":
            return (F.col("t") / F.lit(1000.0)).alias("value")
        ts = F.timestamp_seconds(F.floor(F.col("value")).cast("long"))
        simple = {
            "minute": F.minute,
            "hour": F.hour,
            "day_of_month": F.dayofmonth,
            "day_of_year": F.dayofyear,
            "month": F.month,
            "year": F.year,
        }
        if func in simple:
            out = simple[func](ts)
        elif func == "day_of_week":
            out = F.dayofweek(ts) - F.lit(1)  # Prometheus: 0 = Sunday
        else:  # days_in_month
            out = F.dayofmonth(F.last_day(ts))
        return out.cast("double")

    def _eval_subquery(
        self, ev, node: PromSubquery, start_ms, end_ms, step_ms, lookback_ms
    ) -> DataFrame:
        """Evaluate the inner expression on an absolute-epoch-aligned
        sub-step grid covering (start - range, end], then treat its output
        rows as samples for the range function — the same arithmetic
        fan-out as a plain range selector, so still no join between the
        outer steps and the sub-step results (Prometheus subquery
        semantics; sub-steps align to multiples of the resolution, not to
        the outer start)."""
        sub = node.step_ms
        sub_start = ((start_ms - node.range_ms) // sub + 1) * sub
        sub_end = (end_ms // sub) * sub
        inner = ev.eval(node.inner, sub_start, sub_end, sub, lookback_ms)
        samples = inner.withColumnRenamed("t", "ts")
        series_cols = [c for c in samples.columns if c not in ("ts", "value")]
        expr = PromExpr(
            metric="",
            func=node.func,
            range_ms=node.range_ms,
            func_param=node.func_param,
            func_param2=node.func_param2,
        )
        # _assign_steps self-dispatches to the fan-out when window > step
        bucketed = self._assign_steps(
            samples, start_ms, end_ms, step_ms, node.range_ms
        )
        return self._range_value(expr, bucketed, series_cols)

    def _eval_setop(
        self, ev, node: PromSetOp, start_ms, end_ms, step_ms, lookback_ms
    ) -> DataFrame:
        """Set operators as semi/anti equi-joins on (t, match labels) —
        one shuffle each, no fan-out.  Default matching is the FULL label
        set (union of both sides' label columns, absent labels ""-filled
        for the comparison only); ``on``/``ignoring`` narrow it.  ``or``
        is left ∪ (right anti-join left): right-side rows whose label set
        already appears in left are dropped, and labels only one side
        carries come back ""-filled, keeping the output schema stable."""
        if isinstance(node.left, float) or isinstance(node.right, float):
            raise ValueError("set operators need vector operands")
        left = ev.eval(node.left, start_ms, end_ms, step_ms, lookback_ms)
        right = ev.eval(node.right, start_ms, end_ms, step_ms, lookback_ms)
        l_labels = [c for c in left.columns if c not in ("t", "value")]
        r_labels = [c for c in right.columns if c not in ("t", "value")]
        if node.matching_mode == "on":
            keys = ["t"] + [l for l in node.matching if l != "t"]
        elif node.matching_mode == "ignoring":
            keys = ["t"] + sorted(
                (set(l_labels) | set(r_labels)) - set(node.matching)
            )
        else:
            keys = ["t"] + sorted(set(l_labels) | set(r_labels))

        def keyed(df):
            missing = [k for k in keys if k not in df.columns]
            for k in missing:
                df = df.withColumn(k, F.lit(""))
            return df, missing

        lk, l_missing = keyed(left)
        rk, r_missing = keyed(right)
        if node.op == "and":
            return lk.join(rk.select(*keys), on=keys, how="left_semi").drop(
                *l_missing
            )
        if node.op == "unless":
            return lk.join(rk.select(*keys), on=keys, how="left_anti").drop(
                *l_missing
            )
        extra = rk.join(lk.select(*keys), on=keys, how="left_anti").drop(
            *r_missing
        )
        out = left.unionByName(extra, allowMissingColumns=True)
        label_cols = [c for c in out.columns if c not in ("t", "value")]
        return out.na.fill("", subset=label_cols) if label_cols else out

    @staticmethod
    def _count_values(df: DataFrame, node: PromCountValues) -> DataFrame:
        """One output row per (t, grouping, distinct value): the value
        becomes the named label (cast to string — both engines print
        doubles as '<int>.0' for integral values), count as the new
        value.  One groupBy shuffle."""
        by = _grouping(df.columns, node.by, node.without)
        return (
            df.groupBy(
                "t", *by, F.col("value").cast("string").alias(node.label)
            )
            .agg(F.count(F.lit(1)).cast("double").alias("value"))
        )

    @staticmethod
    def _math_column(func: str, params: list[float]):
        v = F.col("value")
        if func == "abs":
            return F.abs(v)
        if func == "ceil":
            return F.ceil(v).cast("double")
        if func == "floor":
            return F.floor(v).cast("double")
        if func == "sqrt":
            return F.sqrt(v)
        if func == "exp":
            return F.exp(v)
        if func == "ln":
            return F.log(v)
        if func == "clamp":
            return F.least(F.greatest(v, F.lit(params[0])), F.lit(params[1]))
        if func == "clamp_min":
            return F.greatest(v, F.lit(params[0]))
        if func == "clamp_max":
            return F.least(v, F.lit(params[0]))
        if func == "sgn":
            return F.signum(v)
        simple = {
            "log2": F.log2, "log10": F.log10,
            "sin": F.sin, "cos": F.cos, "tan": F.tan,
            "asin": F.asin, "acos": F.acos, "atan": F.atan,
            "sinh": F.sinh, "cosh": F.cosh, "tanh": F.tanh,
            "asinh": F.asinh, "acosh": F.acosh, "atanh": F.atanh,
            "deg": F.degrees, "rad": F.radians,
        }
        if func in simple:
            return simple[func](v)
        if func == "round":
            # Prometheus round: nearest multiple of to_nearest (default 1),
            # ties rounding UP — floor(v/to + 0.5) * to
            to = params[0] if params else 1.0
            return (
                F.floor(v / F.lit(to) + F.lit(0.5)).cast("double") * F.lit(to)
            )
        raise ValueError(f"unknown math function {func}")  # pragma: no cover

    @staticmethod
    def _histogram_quantile(df: DataFrame, q: float) -> DataFrame:
        """Prometheus bucketQuantile over cumulative ``le`` buckets.

        One shuffle: both windows below share the (t, group-labels)
        partitioning, then a filter keeps exactly the bucket containing
        rank q*total and pure column math interpolates inside it.  Every
        float op is ordered identically to the corpus oracle's SQL twin.
        """
        from pyspark.sql import Window

        if "le" not in df.columns:
            raise ValueError("histogram_quantile needs an `le` label")
        grp = [c for c in df.columns if c not in ("t", "value", "le")]
        inf = float("inf")
        le_num = F.when(
            F.col("le").isin("+Inf", "Inf", "inf"), F.lit(inf)
        ).otherwise(F.col("le").cast("double"))
        wo = Window.partitionBy("t", *grp).orderBy("__le")
        wp = Window.partitionBy("t", *grp)
        b = (
            df.withColumn("__le", le_num)
            .withColumn("__prev_cnt", F.lag("value", 1, 0.0).over(wo))
            .withColumn("__prev_le", F.lag("__le").over(wo))
            .withColumn("__total", F.max("value").over(wp))
            .withColumn(
                "__max_fin",
                F.max(F.when(F.col("__le") != inf, F.col("__le"))).over(wp),
            )
        )
        rank = F.lit(q) * F.col("__total")
        # the FIRST bucket whose cumulative count reaches the rank: unique
        # because counts are non-decreasing in le
        found = b.filter(
            (F.col("value") >= rank)
            & ((F.col("__prev_cnt") < rank) | F.col("__prev_le").isNull())
        )
        start = F.coalesce(F.col("__prev_le"), F.lit(0.0))
        interp = start + (F.col("__le") - start) * (
            (rank - F.col("__prev_cnt"))
            / (F.col("value") - F.col("__prev_cnt"))
        )
        # Prometheus bucketQuantile's lowest-bucket rule: when the rank
        # falls in the FIRST bucket and its upper bound is <= 0 the
        # implicit lower bound is -Inf, not 0 — return the bound itself
        # (promql/quantile.go: `if b == 0 && buckets[0].upperBound <= 0`)
        value = (
            F.when(F.col("__le") == inf, F.col("__max_fin"))
            .when(
                F.col("__prev_le").isNull() & (F.col("__le") <= 0),
                F.col("__le"),
            )
            .otherwise(interp)
        )
        return found.select("t", *grp, value.alias("value"))

    def _histogram_std(
        self, ev, node: PromHistogramStd,
        start_ms, end_ms, step_ms, lookback_ms,
    ) -> DataFrame:
        """Bucket-wise population variance (see :class:`PromHistogramStd`):
        the selector's ``_bucket`` / ``_sum`` / ``_count`` series
        evaluate through the normal selector path (full pushdown), the
        exact mean joins onto the le-windowed buckets on (t, series),
        and ``sum(inc * (mid - mean)^2) / count`` aggregates per
        series — the same (t, group) partitioning every histogram
        kernel here uses, grid-bounded."""
        import dataclasses

        from pyspark.sql import Window

        base = node.inner
        series = lambda m: ev.eval(  # noqa: E731
            dataclasses.replace(base, metric=base.metric + m),
            start_ms, end_ms, step_ms, lookback_ms,
        )
        buckets = series("_bucket")
        if "le" not in buckets.columns:
            raise ValueError("histogram_stddev needs an `le` label")
        grp = [c for c in buckets.columns if c not in ("t", "value", "le")]
        mean = (
            series("_sum").withColumnRenamed("value", "__sum").join(
                series("_count").withColumnRenamed("value", "__count"),
                on=["t", *grp],
            )
            .withColumn("__mean", F.col("__sum") / F.col("__count"))
        )
        inf = float("inf")
        le_num = F.when(
            F.col("le").isin("+Inf", "Inf", "inf"), F.lit(inf)
        ).otherwise(F.col("le").cast("double"))
        wo = Window.partitionBy("t", *grp).orderBy("__le")
        b = (
            buckets.withColumn("__le", le_num)
            .withColumn("__prev_cnt", F.lag("value", 1, 0.0).over(wo))
            .withColumn("__prev_le", F.lag("__le").over(wo))
        )
        inc = F.col("value") - F.col("__prev_cnt")
        mid = (
            F.when(F.col("__le") == inf, F.col("__prev_le"))
            .when(
                F.col("__prev_le").isNull(),
                F.when(F.col("__le") <= 0, F.col("__le")).otherwise(
                    F.col("__le") / 2
                ),
            )
            .otherwise((F.col("__prev_le") + F.col("__le")) / 2)
        )
        joined = b.join(
            mean.select("t", *grp, "__mean", "__count"), on=["t", *grp]
        )
        dev = mid - F.col("__mean")
        var = (
            joined.groupBy("t", *grp)
            .agg(
                (
                    F.sum(inc * dev * dev) / F.max("__count")
                ).alias("value")
            )
        )
        if node.stddev:
            # stddev MUST remain exactly sqrt of the stdvar frame above:
            # corpus q140 evaluates the variance grid once and derives
            # its stddev arm by applying F.sqrt outside the engine
            # (pinned by test_histogram_stddev_stdvar).  Any divergence
            # here (e.g. NaN clamping) must be mirrored there.
            var = var.withColumn("value", F.sqrt("value"))
        return var

    @staticmethod
    def _histogram_fraction(
        df: DataFrame, lower: float, upper: float
    ) -> DataFrame:
        """Fraction of observations in [lower, upper] from the
        piecewise-linear CDF the cumulative ``le`` buckets define:
        each bucket (start, le] contributes ``inc * clamp((x - start) /
        (le - start), 0, 1)`` to C(x); fraction = (C(upper) -
        C(lower)) / total.  ONE shuffle (the same (t, group) window
        partitioning histogram_quantile uses) plus a grouped sum; +Inf
        bucket mass counts only when the bound is +Inf.  The lowest
        bucket's start is 0: with a positive bound that interpolates
        from 0 like bucketQuantile; with a bound <= 0 the width guard
        degrades it to a point mass AT the bound — exactly the CDF the
        quantile's le<=0 lowest-bucket rule implies, so fraction and
        quantile stay inverse-consistent on mixed-sign buckets (fuzzed
        in tests/test_histogram_fuzz.py)."""
        from pyspark.sql import Window

        if "le" not in df.columns:
            raise ValueError("histogram_fraction needs an `le` label")
        grp = [c for c in df.columns if c not in ("t", "value", "le")]
        if lower >= upper:
            # Prometheus histogramFraction: an empty/inverted interval
            # holds no mass — 0 per series, not an error
            return df.groupBy("t", *grp).agg(F.lit(0.0).alias("value"))
        inf = float("inf")
        le_num = F.when(
            F.col("le").isin("+Inf", "Inf", "inf"), F.lit(inf)
        ).otherwise(F.col("le").cast("double"))
        wo = Window.partitionBy("t", *grp).orderBy("__le")
        b = (
            df.withColumn("__le", le_num)
            .withColumn("__prev_cnt", F.lag("value", 1, 0.0).over(wo))
            .withColumn("__prev_le", F.lag("__le").over(wo))
        )
        inc = F.col("value") - F.col("__prev_cnt")
        start = F.coalesce(F.col("__prev_le"), F.lit(0.0))
        width = F.col("__le") - start

        def cdf_at(x: float):
            xx = F.lit(float(x))
            finite = F.when(
                width > 0,
                F.greatest(
                    F.lit(0.0),
                    F.least(F.lit(1.0), (xx - start) / width),
                ),
            ).otherwise(F.when(xx >= F.col("__le"), 1.0).otherwise(0.0))
            # the +Inf bucket's mass has no finite location: it counts
            # only when the bound itself is +Inf
            if math.isinf(x) and x > 0:
                return inc  # full contribution from every bucket
            return F.when(F.col("__le") == inf, F.lit(0.0)).otherwise(
                inc * finite
            )

        out = b.groupBy("t", *grp).agg(
            (
                (F.sum(cdf_at(upper)) - F.sum(cdf_at(lower)))
                / F.max("value")
            ).alias("value")
        )
        return out

    @staticmethod
    def _label_replace(df: DataFrame, node: PromLabelReplace) -> DataFrame:
        """Prometheus label_replace: the regex is FULLY anchored against
        ``src``'s value; on match ``dst`` becomes the expanded
        replacement, else the row is unchanged (missing labels read as "",
        the reference's absent-label convention, `schema/chunk.go:109-112`)."""
        anchored = f"^(?:{node.regex})$"
        src = (
            F.col(node.src).cast("string")
            if node.src in df.columns
            else F.lit("")
        )
        old_dst = F.col(node.dst) if node.dst in df.columns else F.lit("")
        new_dst = F.when(
            src.rlike(anchored), F.regexp_replace(src, anchored, node.replacement)
        ).otherwise(old_dst)
        others = [c for c in df.columns if c not in (node.dst, "value")]
        return df.select(*others, new_dst.alias(node.dst), "value")

    def _eval_binary(
        self, ev, node: PromBinary, start_ms, end_ms, step_ms, lookback_ms
    ) -> DataFrame:
        ops = {
            "+": lambda a, b: a + b,
            "-": lambda a, b: a - b,
            "*": lambda a, b: a * b,
            "/": lambda a, b: a / b,
            # Go math.Mod / math.Pow / math.Atan2 (Prometheus arithmetic);
            # Spark's float % keeps the dividend's sign like math.Mod
            "%": lambda a, b: a % b,
            "^": lambda a, b: F.pow(a, b),
            "atan2": lambda a, b: F.atan2(a, b),
        }
        cmps = {
            ">": lambda a, b: a > b,
            "<": lambda a, b: a < b,
            ">=": lambda a, b: a >= b,
            "<=": lambda a, b: a <= b,
            "==": lambda a, b: a == b,
            "!=": lambda a, b: a != b,
        }
        is_cmp = node.op in cmps
        if _is_dynamic_scalar(node.left) or _is_dynamic_scalar(node.right):
            return self._eval_binary_scalar_fn(
                ev, node, start_ms, end_ms, step_ms, lookback_ms, ops, cmps
            )
        left_scalar = isinstance(node.left, float)
        right_scalar = isinstance(node.right, float)
        if left_scalar and right_scalar:
            raise ValueError("scalar-only binary expression")
        if right_scalar or left_scalar:
            # vector OP scalar / scalar OP vector: value-wise, no join.
            # Comparisons FILTER the vector (keeping its value) unless
            # `bool`, which keeps every series and emits 1/0.
            vec = node.left if right_scalar else node.right
            df = ev.eval(vec, start_ms, end_ms, step_ms, lookback_ms)
            lhs = F.col("value") if right_scalar else F.lit(node.left)
            rhs = F.lit(node.right) if right_scalar else F.col("value")
            if not is_cmp:
                return df.withColumn("value", ops[node.op](lhs, rhs))
            cond = cmps[node.op](lhs, rhs)
            if node.bool_mode:
                return df.withColumn(
                    "value", F.when(cond, F.lit(1.0)).otherwise(F.lit(0.0))
                )
            return df.filter(cond)
        left = ev.eval(node.left, start_ms, end_ms, step_ms, lookback_ms)
        right = ev.eval(node.right, start_ms, end_ms, step_ms, lookback_ms)
        shared = [c for c in left.columns if c in right.columns and c != "value"]
        if node.matching_mode == "on":
            keys = ["t"] + [l for l in node.matching if l != "t"]
            missing = [
                l for l in keys if l not in left.columns or l not in right.columns
            ]
            if missing:
                raise ValueError(f"on() labels absent from operands: {missing}")
        elif node.matching_mode == "ignoring":
            keys = [c for c in shared if c not in node.matching]
        else:
            keys = shared  # default: one-to-one on (t, all shared labels)

        if node.group in ("left", "right"):
            # many-to-one: the MANY side keeps its full label set; the one
            # side must be unique per key (Prometheus errors otherwise; we
            # document rather than verify — a uniqueness probe would cost
            # an extra aggregation per evaluation)
            many, one = (left, right) if node.group == "left" else (right, left)
            # group_left(extra): copy the named labels from the ONE side
            # into the result (missing ones copy as "", the Prometheus
            # absent-label convention); a many-side label of the same
            # name is overwritten
            carry = [c for c in node.group_carry if c not in keys]
            carry_cols = [
                (
                    F.col(c) if c in one.columns else F.lit("")
                ).alias(f"__carry_{c}")
                for c in carry
            ]
            one_keyed = one.select(
                *keys, *carry_cols, F.col("value").alias("__ov")
            )
            joined = many.join(one_keyed, on=keys, how="inner")
            for c in carry:
                joined = joined.withColumn(c, F.col(f"__carry_{c}")).drop(
                    f"__carry_{c}"
                )
            l_val, r_val = (
                (F.col("value"), F.col("__ov"))
                if node.group == "left"
                else (F.col("__ov"), F.col("value"))
            )
            out_cols = [c for c in many.columns if c != "value"] + [
                c for c in carry if c not in many.columns
            ]
            if is_cmp:
                return self._cmp_result(
                    joined, out_cols, cmps[node.op](l_val, r_val), l_val,
                    node.bool_mode,
                )
            return joined.select(
                *out_cols, ops[node.op](l_val, r_val).alias("value")
            )

        # one-to-one: result carries exactly the match-key labels
        l_keyed = left.select(*keys, F.col("value").alias("__lv"))
        r_keyed = right.select(*keys, F.col("value").alias("__rv"))
        joined = l_keyed.join(r_keyed, on=keys, how="inner")
        if is_cmp:
            return self._cmp_result(
                joined, keys,
                cmps[node.op](F.col("__lv"), F.col("__rv")), F.col("__lv"),
                node.bool_mode,
            )
        return joined.select(
            *keys, ops[node.op](F.col("__lv"), F.col("__rv")).alias("value")
        )

    def _eval_binary_scalar_fn(
        self, ev, node, start_ms, end_ms, step_ms, lookback_ms, ops, cmps
    ) -> DataFrame:
        """Binary ops with a ``scalar(v)`` operand: the scalar varies per
        STEP, so it joins the other side on t — broadcast (one row per
        step, thousands at most, never data-sized).  A vector operand
        keeps its full label set, exactly like a literal-scalar operand
        (Prometheus scalar/vector semantics); scalar-scalar results stay
        label-less (t, value) frames, and comparisons on them emit 1/0
        (Prometheus requires `bool` there; we don't make it an error)."""
        from pyspark.sql.functions import broadcast

        is_cmp = node.op in cmps
        left_sfn = _is_dynamic_scalar(node.left)
        right_sfn = _is_dynamic_scalar(node.right)

        def sframe(n):
            return ev.eval(n, start_ms, end_ms, step_ms, lookback_ms)

        if left_sfn and right_sfn:
            l = sframe(node.left).select("t", F.col("value").alias("__lv"))
            r = sframe(node.right).select("t", F.col("value").alias("__rv"))
            j = l.join(r, "t")
            lv, rv = F.col("__lv"), F.col("__rv")
            expr = (
                F.when(cmps[node.op](lv, rv), F.lit(1.0)).otherwise(F.lit(0.0))
                if is_cmp
                else ops[node.op](lv, rv)
            )
            return j.select("t", expr.alias("value"))

        sfn, other = (
            (node.left, node.right) if left_sfn else (node.right, node.left)
        )
        sdf = sframe(sfn).select("t", F.col("value").alias("__sv"))
        sv = F.col("__sv")
        if isinstance(other, float):
            lit = F.lit(other)
            lhs, rhs = (sv, lit) if left_sfn else (lit, sv)
            expr = (
                F.when(cmps[node.op](lhs, rhs), F.lit(1.0)).otherwise(F.lit(0.0))
                if is_cmp
                else ops[node.op](lhs, rhs)
            )
            return sdf.select("t", expr.alias("value"))

        vec = sframe(other)
        out_cols = [c for c in vec.columns if c != "value"]
        joined = vec.join(broadcast(sdf), "t")
        v = F.col("value")
        lhs, rhs = (sv, v) if left_sfn else (v, sv)
        if not is_cmp:
            return joined.select(
                *out_cols, ops[node.op](lhs, rhs).alias("value")
            )
        # vector cmp scalar(): filter semantics, vector's value kept
        cond = cmps[node.op](lhs, rhs)
        if node.bool_mode:
            return joined.select(
                *out_cols,
                F.when(cond, F.lit(1.0)).otherwise(F.lit(0.0)).alias("value"),
            )
        return joined.filter(cond).select(*out_cols, v.alias("value"))

    @staticmethod
    def _cmp_result(joined, out_cols, cond, left_val, bool_mode) -> DataFrame:
        """Vector-vector comparison: keep the LEFT operand's value on
        matching rows (filter semantics), or 1/0 per matched pair with
        ``bool``."""
        if bool_mode:
            return joined.select(
                *out_cols,
                F.when(cond, F.lit(1.0)).otherwise(F.lit(0.0)).alias("value"),
            )
        return joined.filter(cond).select(
            *out_cols, left_val.alias("value")
        )

    @staticmethod
    def _topk(
        df: DataFrame,
        k: int,
        ascending: bool,
        by: list[str] | None = None,
        without: list[str] | None = None,
    ) -> DataFrame:
        from pyspark.sql import Window

        label_cols = [c for c in df.columns if c not in ("t", "value")]
        missing = [c for c in (by or []) if c not in label_cols]
        if missing:
            raise ValueError(f"topk by labels not in result: {missing}")
        if without is not None:
            # per-(everything else) groups; unknown names just drop out
            by = [c for c in label_cols if c not in without]
        order = [F.col("value").asc() if ascending else F.col("value").desc()]
        order += [F.col(c).asc() for c in label_cols]  # deterministic ties
        w = Window.partitionBy("t", *(by or [])).orderBy(*order)
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )

    @staticmethod
    def _limit_series(df: DataFrame, node: PromLimit) -> DataFrame:
        """limitk / limit_ratio (see :class:`PromLimit`): the series
        hash is a pure column expression (md5 top-8-bytes over the
        canonical labelset), so limit_ratio is a shuffle-free filter;
        limitk is one window on (t, group) like topk."""
        from pyspark.sql import Window

        label_cols = [c for c in df.columns if c not in ("t", "value")]
        # canonical labelset: sorted label=value pairs, absent labels
        # omitted (the ""-is-absent convention — two stores with
        # different schema supersets hash a series identically)
        parts = [
            F.when(
                F.col(c) != "", F.concat(F.lit(c + "\x1e"), F.col(c))
            )
            for c in sorted(label_cols)
        ]
        canon = F.concat_ws("\x1f", *parts) if parts else F.lit("")
        frac = (
            F.conv(F.substring(F.md5(canon), 1, 16), 16, 10)
            .cast("double")
            / F.lit(float(2**64))
        )
        if node.ratio is not None:
            r = node.ratio
            keep = frac < F.lit(r) if r >= 0 else frac >= F.lit(1.0 + r)
            return df.filter(keep)
        by = node.by
        missing = [c for c in (by or []) if c not in label_cols]
        if missing:
            raise ValueError(f"limitk by labels not in result: {missing}")
        if node.without is not None:
            by = [c for c in label_cols if c not in node.without]
        w = Window.partitionBy("t", *(by or [])).orderBy(
            frac, *[F.col(c).asc() for c in sorted(label_cols)]
        )
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= int(node.k))
            .drop("__rn")
        )

    def _eval_expr(
        self,
        ev,
        expr: PromExpr,
        start_ms: int,
        end_ms: int,
        step_ms: int,
        lookback_ms: int,
    ) -> DataFrame:
        """A selector with ``@`` or a fused outer aggregation (a bare
        selector is :meth:`_selector_series`).  The aggregation groups
        the selector core, which evaluates through ``ev``: ``sum by (a)``
        and ``sum by (a, b)`` over the same range function share ONE
        decode-scan-window pipeline."""
        if expr.at_ms is not None:
            # `@` modifier: evaluate ONCE at the pinned timestamp, then
            # broadcast the constant vector across the step axis (explode
            # over the step sequence — no join, no recompute per step).
            # The start()/end() forms resolve against THIS query's range.
            at = expr.at_ms
            if at == "start":
                at = start_ms
            elif at == "end":
                at = end_ms
            pinned = self._eval_expr(
                ev,
                replace(expr, at_ms=None),
                at,
                at,
                step_ms,
                lookback_ms,
            )
            steps = F.explode(
                F.sequence(
                    F.lit(start_ms), F.lit(end_ms), F.lit(step_ms)
                )
            ).alias("t")
            cols = [c for c in pinned.columns if c != "t"]
            return pinned.drop("t").select(steps, *cols)

        per_series = ev.eval(
            _selector_core(expr), start_ms, end_ms, step_ms, lookback_ms
        )
        if expr.agg is None:
            return per_series
        by = _grouping(per_series.columns, expr.by, expr.without)
        return per_series.groupBy("t", *by).agg(
            _OUTER_AGGS[expr.agg](F.col("value")).alias("value")
        )

    def _selector_series(
        self, expr: PromExpr, start_ms, end_ms, step_ms, lookback_ms
    ) -> DataFrame:
        """Per-series frame of a selector core (no fused aggregation, no
        ``@``)."""
        bucketed, series_cols = self._bucketed_selector(
            expr, start_ms, end_ms, step_ms, lookback_ms
        )
        if expr.func == "absent_over_time":
            return self._absent_over_time(
                expr, bucketed, start_ms, end_ms, step_ms
            )
        return self._range_value(expr, bucketed, series_cols)

    def _bucketed_selector(
        self, expr: PromExpr, start_ms, end_ms, step_ms, lookback_ms
    ):
        """Matcher-filtered, step-bucketed sample frame of a selector
        core — the front half of :meth:`_selector_series`.
        Returns ``(bucketed, series_cols)``."""
        window_ms = expr.range_ms if expr.func else lookback_ms
        off = expr.offset_ms

        matchers = list(expr.matchers)
        if expr.metric:
            matchers.append(Matcher(self.metric_label, "=", expr.metric))
        # prune to the evaluation window before any join/shuffle; the
        # offset modifier shifts the BOUNDS (the per-query transform sees
        # this exact pre-shift window, and plain ts comparisons reach the
        # parquet scan as pushed filters), then shifts the surviving
        # timestamps so all downstream step math is unchanged
        df = self.matched_samples(
            matchers, start_ms - window_ms - off + 1, end_ms - off
        )
        if off:
            df = df.withColumn("ts", F.expr(f"ts + {off}L"))

        series_cols = [c for c in self.label_columns if c != self.metric_label]

        if expr.func is None or window_ms == step_ms:
            bucketed = self._assign_steps(
                df, start_ms, end_ms, step_ms, window_ms
            )
        else:
            bucketed = self._join_steps(df, start_ms, end_ms, step_ms, window_ms)

        return bucketed, series_cols

    def _info(
        self, ev, inner: DataFrame, node: PromInfo,
        start_ms, end_ms, step_ms, lookback_ms,
    ) -> DataFrame:
        """``info(v)``: one instant-select of ``target_info`` on the same
        grid, deduped per (step, job, instance) with max() per data
        label, then a BROADCAST left join onto the input vector — the
        info side is targets x steps, always tiny next to the data.
        Conflict/selector rules documented on :class:`PromInfo`."""
        ident = [
            c for c in ("job", "instance") if c in inner.columns
        ]
        if not ident:
            # no identifying labels survive on the input vector (e.g.
            # aggregated away) — nothing can match, like Prometheus
            return inner
        info = ev.eval(
            PromExpr(metric="target_info"),
            start_ms, end_ms, step_ms, lookback_ms,
        )
        data = [
            c
            for c in info.columns
            if c not in ("t", "value", self.metric_label)
            and c not in ident
        ]
        wanted: dict[str, list[Matcher]] = {}
        if node.matchers:
            for m in node.matchers:
                wanted.setdefault(m.name, []).append(m)
            data = [c for c in data if c in wanted]
        if not data:
            return inner
        aggs = []
        for c in data:
            col = F.col(c)
            if c in wanted:
                cond = None
                for m in wanted[c]:
                    mc = m.to_column()
                    cond = mc if cond is None else (cond & mc)
                col = F.when(cond, col).otherwise(F.lit(""))
            aggs.append(F.max(col).alias(f"__info_{c}"))
        info_side = info.groupBy("t", *ident).agg(*aggs)
        joined = inner.join(
            F.broadcast(info_side), on=["t", *ident], how="left"
        )
        added = []
        for c in data:
            src = F.coalesce(F.col(f"__info_{c}"), F.lit(""))
            if c in inner.columns:
                joined = joined.withColumn(
                    c, F.when(F.col(c) == "", src).otherwise(F.col(c))
                )
            else:
                joined = joined.withColumn(c, src)
                added.append(c)
        joined = joined.drop(*[f"__info_{c}" for c in data])
        order = [c for c in inner.columns if c != "value"] + added + ["value"]
        return joined.select(*order)

    def _absent_instant(
        self, ev, node: "PromAbsent", start_ms, end_ms, step_ms, lookback_ms
    ) -> DataFrame:
        """absent(v): the step axis anti-joined against the steps where
        the inner instant vector has any series — both sides O(steps)
        after the inner evaluation's own aggregation.  Reuses the full
        selector machinery (lookback, offset, matchers) by evaluating the
        inner expression like any other instant vector."""
        present = ev.eval(
            node.inner, start_ms, end_ms, step_ms, lookback_ms
        ).select("t").distinct()
        steps = self._steps_frame(start_ms, end_ms, step_ms)
        absent = steps.join(present, on="t", how="left_anti")
        label_cols = []
        inner = node.inner
        if isinstance(inner, PromExpr) and inner.func is None and inner.agg is None:
            label_cols = [
                F.lit(m.value).alias(m.name)
                for m in inner.matchers
                if m.op == "=" and m.name != self.metric_label
            ]
        return absent.select(
            "t", *label_cols, F.lit(1.0).cast("double").alias("value")
        )

    def _absent_over_time(
        self, expr, bucketed, start_ms, end_ms, step_ms
    ) -> DataFrame:
        """absent_over_time(m[d]): 1.0 at every step whose window holds NO
        matching sample — the step axis anti-joined against the distinct
        present steps of the bucketed selector (both sides are tiny:
        O(steps)); labels synthesized from the equality matchers,
        Prometheus-style."""
        label_cols = [
            F.lit(m.value).alias(m.name)
            for m in expr.matchers
            if m.op == "=" and m.name != self.metric_label
        ]
        present = bucketed.select("t").distinct()
        absent = self._steps_frame(start_ms, end_ms, step_ms).join(
            present, "t", "left_anti"
        )
        return absent.select("t", *label_cols, F.lit(1.0).alias("value"))

    def query_instant(
        self,
        promql: str,
        ts_ms: int,
        lookback_ms: int = DEFAULT_LOOKBACK_MS,
    ) -> DataFrame:
        """Instant query: evaluate at a single timestamp (a range query of
        one step)."""
        return self.query_range(promql, ts_ms, ts_ms, 1, lookback_ms=lookback_ms)

    # -- step assignment ----------------------------------------------------

    @staticmethod
    def _assign_steps(df, start_ms, end_ms, step_ms, window_ms) -> DataFrame:
        """Tumbling fast path (window == step, or instant vectors where we
        only need the containing step when window <= step): each sample maps
        to exactly ceil((ts-start)/step) — no join, no fan-out."""
        if window_ms > step_ms:
            # instant vectors with lookback > step still need the fan-out
            return PromQLEngine._join_steps(
                df, start_ms, end_ms, step_ms, window_ms
            )
        # numerator is >= 0 because ts > start - window >= start - step;
        # integer `div` keeps the bucket math exact (no float rounding).
        # SQL text, one projection and one filter: each DataFrame call
        # is a JVM round trip and an eager analysis
        t = (
            f"{start_ms}L + ((ts - {start_ms}L + {step_ms - 1}L)"
            f" div {step_ms}L) * {step_ms}L"
        )
        keep = f"t <= {end_ms}L"
        if window_ms < step_ms:
            # sample must fall inside (t-window, t], not just the step
            keep += f" AND ts > t - {window_ms}L"
        return df.selectExpr("*", f"{t} AS t").where(keep)

    @staticmethod
    def _join_steps(df, start_ms, end_ms, step_ms, window_ms) -> DataFrame:
        """General path (window > step): ARITHMETIC step fan-out, no join.

        A sample at ``ts`` contributes to steps ``t`` with ``ts <= t <
        ts + window`` — a contiguous run of step indices computable in
        closed form.  ``explode(sequence(t_first, t_last, step))`` fans
        each sample out to exactly its ~window/step steps and stays
        equi-shaped (narrow, whole-stage codegen), where a range-predicate
        join against the step axis would be a broadcast nested-loop
        testing every sample against every step — O(samples x steps), a
        scale-killer at 30d/1m = 43k steps.  Built as SQL text, one
        ``where`` and one ``selectExpr``: each DataFrame call is a JVM
        round trip and an eager analysis.
        """
        k_max = (end_ms - start_ms) // step_ms
        # k_first = ceil((ts - start)/step) clamped to >= 0.  For negative
        # numerators Spark's `div` truncates toward zero (!= ceil), but
        # every such k is <=0 and the clamp lands on the same 0.
        k_first = (
            f"greatest(0L, (ts - {start_ms}L + {step_ms - 1}L) div {step_ms}L)"
        )
        # k_last = ceil((ts + window - start)/step) - 1; numerator > 0
        # because the caller prefilters ts > start - window.
        k_last = (
            f"least({k_max}L, (ts + {window_ms}L - {start_ms}L"
            f" + {step_ms - 1}L) div {step_ms}L - 1L)"
        )
        return df.where(f"{k_first} <= {k_last}").selectExpr(
            "*",
            f"explode(sequence({start_ms}L + {k_first} * {step_ms}L,"
            f" {start_ms}L + {k_last} * {step_ms}L, {step_ms}L)) AS t",
        )

    # -- range-function evaluation -------------------------------------------

    def _range_value(
        self, expr: PromExpr, bucketed: DataFrame, series_cols
    ) -> DataFrame:
        keys = ["t"] + list(series_cols)
        if expr.func is None:
            # instant vector: last sample within the lookback window
            if self.stale_aware:
                # the latest sample decides: a stale marker there means
                # the series ended before this step — no output row.
                # TWO scalar max_by aggs, not max_by(struct(...), ts): a
                # struct aggregation buffer is not hash-mutable, forcing
                # SortAggregate over the sample-cardinality stream
                # (guide §5 — hash aggregate spills cheaper at scale).
                # Row-consistency: both functions scan the group in the
                # same order inside one aggregation pass, so a tied ts
                # resolves to the SAME row for value and is_stale (and
                # WAL first-write-wins dedup makes (series, ts) unique
                # on every stale-aware source anyway).
                return (
                    bucketed.groupBy(*keys)
                    .agg(
                        F.max_by("value", "ts").alias("__v"),
                        F.max_by("is_stale", "ts").alias("__stale"),
                    )
                    .filter(~F.col("__stale"))
                    .select(*keys, F.col("__v").alias("value"))
                )
            agg = F.max_by("value", "ts").alias("value")
            return bucketed.groupBy(*keys).agg(agg)
        if self.stale_aware:
            # markers are not samples in range selections
            bucketed = bucketed.filter(~F.col("is_stale"))
        if expr.func == "quantile_over_time":
            # exact linear-interpolation percentile (sort-based, same
            # interpolation as DuckDB quantile_cont)
            return bucketed.groupBy(*keys).agg(
                F.percentile("value", F.lit(expr.func_param)).alias("value")
            )
        if expr.func in ("deriv", "predict_linear"):
            # simple least-squares over the window's (ts, value) points
            # (Prometheus linearRegression).  x is seconds relative to the
            # step time, so regr_intercept IS the value at eval time and
            # predict_linear(v[d], p) = intercept + slope * p; deriv is the
            # (shift-invariant) slope.  regr_* are NULL for < 2 distinct
            # points -- exactly Prometheus's no-output condition.
            x = (F.col("ts") - F.col("t")).cast("double") / F.lit(1000.0)
            slope = F.regr_slope(F.col("value"), x)
            if expr.func == "deriv":
                value = slope
            else:
                value = (
                    F.regr_intercept(F.col("value"), x)
                    + slope * F.lit(expr.func_param)
                )
            return (
                bucketed.groupBy(*keys)
                .agg(value.alias("value"))
                .filter(F.col("value").isNotNull())
            )
        if expr.func == "mad_over_time":
            # median absolute deviation: Prometheus quantile(0.5, ...)
            # interpolation applied twice — to the window's sorted values,
            # then to the sorted absolute deviations from that median.
            # All JVM-side: one sorted-array agg + array expressions; the
            # median is materialized once so the transform lambda doesn't
            # recompute element_at per element.
            def _q50(arr: str) -> str:
                n = f"size({arr})"
                rank = f"(({n} - 1) * 0.5D)"
                lo = f"(cast(floor({rank}) as int) + 1)"
                w = f"({rank} - floor({rank}))"
                return (
                    f"(element_at({arr}, {lo}) * (1.0D - {w})"
                    f" + element_at({arr}, least({lo} + 1, {n})) * {w})"
                )

            grouped = bucketed.groupBy(*keys).agg(
                F.array_sort(F.collect_list(F.col("value"))).alias("__v")
            )
            return (
                grouped.withColumn("__med", F.expr(_q50("__v")))
                .withColumn(
                    "__d",
                    F.expr("array_sort(transform(__v, x -> abs(x - __med)))"),
                )
                .select(*keys, F.expr(_q50("__d")).alias("value"))
            )
        if expr.func in _FUNC_AGGS:
            return bucketed.groupBy(*keys).agg(
                _FUNC_AGGS[expr.func]().alias("value")
            )
        # rate / increase with Prometheus counter-reset correction: every
        # in-window decrease is a reset, compensated by adding the
        # pre-reset value (delta = last - first + sum of values preceding
        # each reset).  The window's samples are gathered into ONE sorted
        # array per (series, t) group — same single shuffle as before —
        # and the compensation is a JVM `aggregate` HOF over adjacent
        # pairs.  Without ``extrapolate`` the result is the plain
        # delta-over-sampled-span form (documented deviation).  The value
        # is SQL text (double literals carry a D suffix; a bare 1000.0
        # is a DECIMAL): a Column tree costs a JVM round trip per node.
        grouped = bucketed.groupBy(*keys).agg(
            F.expr("array_sort(collect_list(struct(ts, value))) AS __w")
        )
        # two projections: materialize the array once, then read it —
        # interpreted HOFs have no common-subexpression elimination
        first = "element_at(__w, 1)"
        last = "element_at(__w, -1)"
        n = "size(__w)"
        if expr.func == "delta":
            # gauge difference, no reset correction (and, like rate, the
            # plain last-first form without extrapolation by default)
            value = f"CASE WHEN {n} >= 2 THEN {last}.value - {first}.value END"
        elif expr.func == "idelta":
            prev = "element_at(__w, -2)"
            value = f"CASE WHEN {n} >= 2 THEN {last}.value - {prev}.value END"
        elif expr.func == "irate":
            prev = "element_at(__w, -2)"
            # a counter reset between the two keeps the last value
            dv = (
                f"CASE WHEN {last}.value >= {prev}.value"
                f" THEN {last}.value - {prev}.value ELSE {last}.value END"
            )
            dt_s = f"(({last}.ts - {prev}.ts) / 1000.0D)"
            value = f"CASE WHEN {n} >= 2 AND {dt_s} > 0 THEN ({dv}) / {dt_s} END"
        elif expr.func == "holt_winters":
            # Prometheus double exponential smoothing: s/b recurrence
            # folded over the window's 3rd..nth samples, seeded from the
            # first two (the i=1 iteration is algebraically folded into the
            # seed).  A JVM `aggregate` HOF — the state struct is rebuilt
            # per step from the PREVIOUS accumulator only (no in-place
            # aliasing, unlike DuckDB 1.0's list_reduce, which is why the
            # corpus oracle uses a recursive CTE instead).
            sf_ = expr.func_param
            tf_ = expr.func_param2
            v1 = "element_at(__w, 1).value"
            v2 = "element_at(__w, 2).value"
            trend = f"({tf_}D * (acc.s1 - acc.s0) + (1.0D - {tf_}D) * acc.b)"
            value = (
                f"CASE WHEN {n} >= 2 THEN aggregate("
                " slice(__w, 3, greatest(size(__w) - 2, 0)),"
                " named_struct("
                f"  's0', {v1},"
                f"  's1', {sf_}D * {v2}"
                f"    + (1.0D - {sf_}D) * ({v1} + ({v2} - {v1})),"
                f"  'b', {v2} - {v1}),"
                " (acc, s) -> named_struct("
                "  's0', acc.s1,"
                f"  's1', {sf_}D * s.value"
                f"    + (1.0D - {sf_}D) * (acc.s1 + {trend}),"
                f"  'b', {trend}),"
                " acc -> acc.s1) END"
            )
        elif expr.func in ("changes", "resets"):
            cond = (
                "s.value < acc.prev"
                if expr.func == "resets"
                else "s.value <> acc.prev"
            )
            value = (
                "aggregate(__w,"
                " named_struct('prev', cast(null as double), 'c', 0.0D),"
                " (acc, s) -> named_struct('prev', s.value,"
                f"   'c', acc.c + CASE WHEN acc.prev IS NOT NULL"
                f"     AND {cond} THEN 1.0D ELSE 0.0D END),"
                " acc -> acc.c)"
            )
        else:
            # rate / increase with Prometheus counter-reset correction
            comp = (
                "aggregate(__w,"
                " named_struct('prev', cast(null as double), 'comp', 0.0D),"
                " (acc, s) -> named_struct('prev', s.value,"
                "   'comp', acc.comp + CASE WHEN acc.prev IS NOT NULL"
                "     AND s.value < acc.prev THEN acc.prev ELSE 0.0D END),"
                " acc -> acc.comp)"
            )
            delta = f"({last}.value - {first}.value + {comp})"
            if self.extrapolate:
                value = self._extrapolated_value(expr, first, last, delta)
            else:
                span_s = f"(({last}.ts - {first}.ts) / 1000.0D)"
                # both need >= 2 samples in the window (Prometheus returns
                # no point otherwise); span_s > 0 iff the window has
                # distinct samples
                if expr.func == "increase":
                    value = f"CASE WHEN {span_s} > 0 THEN {delta} END"
                else:  # rate
                    value = f"CASE WHEN {span_s} > 0 THEN {delta} / {span_s} END"
        return grouped.selectExpr(
            *[_quote(k) for k in keys], f"{value} AS value"
        ).where("value IS NOT NULL")

    @staticmethod
    def _extrapolated_value(expr: PromExpr, first: str, last: str, delta: str):
        """Prometheus window-edge extrapolation (promql extrapolatedRate):
        scale the in-window delta out to the full range, but extrapolate
        past the first/last sample by at most half the average sample
        spacing, and never below the counter's estimated zero crossing.
        Every float op is ordered identically to the SQL twin in the
        corpus so the oracle reproduces it bit-for-bit before rounding.
        Arguments and result are SQL text over the ``__w`` window array.
        """
        sampled = f"CAST({last}.ts - {first}.ts AS DOUBLE)"
        n = "CAST(size(__w) AS DOUBLE)"
        avg = f"({sampled} / ({n} - 1.0D))"
        thresh = f"({avg} * 1.1D)"
        dstart0 = f"CAST({first}.ts - (t - {expr.range_ms}) AS DOUBLE)"
        dend0 = f"CAST(t - {last}.ts AS DOUBLE)"
        dstart1 = (
            f"(CASE WHEN {dstart0} >= {thresh} THEN {avg} / 2.0D"
            f" ELSE {dstart0} END)"
        )
        dend = (
            f"(CASE WHEN {dend0} >= {thresh} THEN {avg} / 2.0D"
            f" ELSE {dend0} END)"
        )
        dzero = f"({sampled} * ({first}.value / {delta}))"
        dstart = (
            f"(CASE WHEN {delta} > 0 AND {first}.value >= 0"
            f" AND {dzero} < {dstart1} THEN {dzero} ELSE {dstart1} END)"
        )
        factor = f"(({sampled} + {dstart} + {dend}) / {sampled})"
        inc = f"({delta} * {factor})"
        if expr.func == "increase":
            return f"CASE WHEN {sampled} > 0 THEN {inc} END"
        return (
            f"CASE WHEN {sampled} > 0"
            f" THEN {inc} * 1000.0D / {float(expr.range_ms)!r}D END"
        )


def _quote(name: str) -> str:
    """A column name as a SQL identifier: label columns may be ``U__``
    escapes or carry characters SQL text would misread."""
    return "`" + name.replace("`", "``") + "`"


# ---------------------------------------------------------------------------
# HTTP API response shaping
# ---------------------------------------------------------------------------


def _api_value(v: float) -> str:
    """Prometheus formats sample values with Go's
    ``strconv.FormatFloat(v, 'f', -1, 64)`` — shortest decimal that
    round-trips, never exponent notation, with ``+Inf``/``-Inf``/
    ``NaN`` spelled exactly so."""
    if v != v:
        return "NaN"
    if v == float("inf"):
        return "+Inf"
    if v == float("-inf"):
        return "-Inf"
    s = repr(float(v))
    if "e" not in s and "E" not in s:
        return s[:-2] if s.endswith(".0") else s
    # expand the exponent like 'f' formatting does; %.17g-shortest via
    # repr already fixed the digits, Decimal just moves the point
    from decimal import Decimal

    return format(Decimal(s), "f")


def sort_vector(node, samples: list) -> list:
    """Order one step's instant-vector samples as Prometheus answers
    them, in place, and return the list.  Each sample is a tuple whose
    first two items are its rendered label dict and its float value.

    The default is label-set order.  A top-level ``sort``/``sort_desc``
    orders by value, NaN last either way; ``sort_by_label``/``_desc``
    by the named labels' string values ("" when absent).  Ties keep
    label-set order (both passes are stable sorts)."""
    samples.sort(key=lambda s: sorted(s[0].items()))
    if not isinstance(node, PromSort):
        return samples
    if node.by_labels:
        samples.sort(
            key=lambda s: tuple(s[0].get(lbl, "") for lbl in node.by_labels),
            reverse=not node.ascending,
        )
        return samples
    sign = 1.0 if node.ascending else -1.0

    def by_value(s):
        v = s[1]
        return (True, 0.0) if v is None or v != v else (False, sign * v)

    samples.sort(key=by_value)
    return samples


def to_api_response(result: "DataFrame", t_col: str = "t",
                    value_col: str = "value") -> dict:
    """Shape a ``query_range`` result frame as the Prometheus HTTP API's
    ``/api/v1/query_range`` response body (``resultType: matrix`` —
    docs/querying/api.md): one entry per series with its label set as
    ``metric`` (""-valued labels omitted, Prometheus's absent-label
    convention) and ``values`` as ``[unix_seconds, "value"]`` pairs in
    time order.

    This renderer owns the order: ``query_range`` frames are unordered,
    and a matrix is ordered by label set, then time, whatever the query
    (Prometheus ignores ``sort*`` in range queries).

    The collect is driver-side BY DESIGN: an API response is a
    rendering boundary (a dashboard panel's worth of steps x series),
    not a dataset — the distributed part is the evaluation that
    produced ``result``."""
    label_cols = [c for c in result.columns if c not in (t_col, value_col)]
    series: dict[tuple, list] = {}
    for row in result.collect():
        # U__ columns render back as their raw UTF-8 label names
        key = tuple(
            (_unescape_name(c), row[c]) for c in label_cols if row[c]
        )
        series.setdefault(key, []).append(
            [row[t_col] / 1000.0, _api_value(row[value_col])]
        )
    out = [
        {"metric": dict(key), "values": sorted(vals)}
        for key, vals in sorted(series.items())
    ]
    return {
        "status": "success",
        "data": {"resultType": "matrix", "result": out},
    }


def to_api_instant_response(result: "DataFrame", t_col: str = "t",
                            value_col: str = "value", node=None) -> dict:
    """The ``/api/v1/query`` (INSTANT) response: ``resultType: vector``,
    one ``value`` pair per series.  Feed it a single-step
    ``query_range(t, t, step)`` frame; a multi-step frame is rejected —
    that is a matrix, not a vector.

    This renderer owns the order: ``query_range`` frames are unordered,
    and the samples come out in :func:`sort_vector` order for ``node``,
    the parsed query (None = label-set order)."""
    label_cols = [c for c in result.columns if c not in (t_col, value_col)]
    rows = result.collect()
    ts = {row[t_col] for row in rows}
    if len(ts) > 1:
        raise ValueError(
            f"instant response needs exactly one step, got {sorted(ts)}"
        )
    samples = [
        (
            {_unescape_name(c): row[c] for c in label_cols if row[c]},
            row[value_col],
            row[t_col],
        )
        for row in rows
    ]
    out = [
        {"metric": metric, "value": [t / 1000.0, _api_value(v)]}
        for metric, v, t in sort_vector(node, samples)
    ]
    return {
        "status": "success",
        "data": {"resultType": "vector", "result": out},
    }


def data_window(
    node, start_ms: int, end_ms: int,
    lookback_ms: int = DEFAULT_LOOKBACK_MS,
) -> "tuple[int, int] | None":
    """Conservative ``[mint, maxt]`` of RAW SAMPLE timestamps the query
    can read when evaluated over ``[start_ms, end_ms]`` — the bound a
    source uses to prune whole blocks/partitions before any scan.

    Walks the AST tracking the evaluation-time interval: ``@`` pins it,
    ``offset`` shifts it (negative = forward), a subquery widens the
    inner interval by its range; each selector then reaches back by its
    range (or the instant lookback).  Returns None when the query reads
    no samples at all (pure ``time()``/``vector()`` arithmetic) —
    callers skip pruning, not the scan."""
    import dataclasses as _dc

    lo: "int | None" = None
    hi: "int | None" = None

    def visit(n, elo: int, ehi: int) -> None:
        nonlocal lo, hi
        if not hasattr(n, "__dataclass_fields__"):
            return
        if isinstance(n, PromSubquery):
            visit(n.inner, elo - n.range_ms, ehi)
            return
        if isinstance(n, PromExpr):
            if n.at_ms is not None:
                at = (
                    start_ms if n.at_ms == "start"
                    else end_ms if n.at_ms == "end"
                    else n.at_ms
                )
                elo = ehi = at
            if n.offset_ms:
                elo -= n.offset_ms
                ehi -= n.offset_ms
            back = n.range_ms if n.range_ms is not None else lookback_ms
            lo = elo - back if lo is None else min(lo, elo - back)
            hi = ehi if hi is None else max(hi, ehi)
            return
        for f in _dc.fields(n):
            visit(getattr(n, f.name), elo, ehi)

    visit(node, start_ms, end_ms)
    if lo is None:
        return None
    return lo, hi

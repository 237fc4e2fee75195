"""Seeded random-PromQL fuzzing against an independent pure-Python
reference evaluator.

The corpus's PromQL rows are hand-written goldens with DuckDB replicas;
this goes one step further (same philosophy as test_fuzz.py for SQL):
generate random expressions over the engine's core grammar — selectors
with =/!=/=~/!~ matchers, offset and `@` modifiers, *_over_time range functions, by/without-grouped
aggregations, scalar arithmetic, comparison filters, set ops (and/or/unless), many-to-one `on()/group_left`
matching, and vector-vector arithmetic — evaluate them with the Spark engine AND with a ~100-line
evaluator written directly from the PromQL semantics (staleness lookback
(t-L, t], range windows (t-w, t], one-to-one vector matching), and
compare every (step, labelset, value).  Deterministic seed ->
reproducible corpus.  A divergence means one of the two independent
implementations is wrong — which is the point.
"""

from __future__ import annotations

import math
import random
import re

import pytest

from tsdb_parquet_spark.plans.promql import PromQLEngine

START, END, STEP = 120_000, 600_000, 60_000
LOOKBACK = 120_000
STEPS = list(range(START, END + 1, STEP))

SERIES = [
    {"job": j, "instance": i} for j in ("api", "web", "db") for i in ("1", "2")
]


def _sample_rows():
    rng = random.Random(424242)
    rows = []
    for labels in SERIES:
        for k in range(0, 21):  # 30s grid, 0..600s, with gaps
            if rng.random() < 0.25:
                continue
            rows.append(
                (
                    "m",
                    labels["job"],
                    labels["instance"],
                    k * 30_000,
                    float(rng.randint(0, 100)),
                )
            )
    return rows


@pytest.fixture(scope="module")
def fuzz_engine(spark):
    df = spark.createDataFrame(
        _sample_rows(),
        "`__name__` STRING, job STRING, instance STRING, ts LONG, "
        "value DOUBLE",
    )
    return PromQLEngine(df)


# ---------------------------------------------------------------------------
# reference evaluator (pure python, written from the spec, not the engine)
# ---------------------------------------------------------------------------

_ROWS = _sample_rows()
_BY_SERIES: dict[tuple, list[tuple[int, float]]] = {}
for _, job, inst, ts, v in _ROWS:
    _BY_SERIES.setdefault((("instance", inst), ("job", job)), []).append(
        (ts, v)
    )
for pts in _BY_SERIES.values():
    pts.sort()


def _matches(labels: dict, matchers) -> bool:
    for name, op, val in matchers:
        lv = labels.get(name, "")
        if op == "=" and lv != val:
            return False
        if op == "!=" and lv == val:
            return False
        if op == "=~" and not re.fullmatch(val, lv):
            return False
        if op == "!~" and re.fullmatch(val, lv):
            return False
    return True


def _window(pts, lo: int, hi: int):
    """Samples with lo < ts <= hi (PromQL left-open window)."""
    return [v for ts, v in pts if lo < ts <= hi]


def _pop_stddev(vs):
    mean = sum(vs) / len(vs)
    return math.sqrt(sum((v - mean) ** 2 for v in vs) / len(vs))


_FNS = {
    "count_over_time": len,
    "sum_over_time": sum,
    "min_over_time": min,
    "max_over_time": max,
    "avg_over_time": lambda vs: sum(vs) / len(vs),
    "last_over_time": lambda vs: vs[-1],
    "first_over_time": lambda vs: vs[0],
    "present_over_time": lambda vs: 1.0,
    "stddev_over_time": _pop_stddev,
    # vs arrives in ts order (points are sorted) — adjacent-pair scans
    "changes": lambda vs: sum(
        1 for a, b in zip(vs, vs[1:]) if a != b
    ),
    "resets": lambda vs: sum(1 for a, b in zip(vs, vs[1:]) if b < a),
}


def ref_eval(node, t: int) -> dict[tuple, float]:
    kind = node[0]
    if kind == "sel":
        _, matchers, off = node[:3]
        at = node[3] if len(node) > 3 else None
        at = {"start": START, "end": END}.get(at, at)
        t = (at if at is not None else t) - off
        out = {}
        for key, pts in _BY_SERIES.items():
            if not _matches(dict(key), matchers):
                continue
            w = [(ts, v) for ts, v in pts if t - LOOKBACK < ts <= t]
            if w:
                out[key] = w[-1][1]
        return out
    if kind == "fn":
        _, fname, matchers, window_ms, off = node[:5]
        at = node[5] if len(node) > 5 else None
        at = {"start": START, "end": END}.get(at, at)
        t = (at if at is not None else t) - off
        out = {}
        for key, pts in _BY_SERIES.items():
            if not _matches(dict(key), matchers):
                continue
            vs = _window(pts, t - window_ms, t)
            if vs:
                out[key] = float(_FNS[fname](vs))
        return out
    if kind == "agg_without":
        _, op, drop, child = node
        inner = ref_eval(child, t)
        groups: dict[tuple, list[float]] = {}
        for key, v in inner.items():
            gkey = tuple((n, val) for n, val in key if n not in drop)
            groups.setdefault(gkey, []).append(v)
        agg = {
            "sum": sum,
            "min": min,
            "max": max,
            "count": len,
            "avg": lambda vs: sum(vs) / len(vs),
        }[op]
        return {k: float(agg(vs)) for k, vs in groups.items()}
    if kind == "quantile":
        _, phi, by, child = node
        inner = ref_eval(child, t)
        groups: dict[tuple, list[float]] = {}
        for key, v in inner.items():
            gkey = tuple((n, val) for n, val in key if n in by)
            groups.setdefault(gkey, []).append(v)
        out = {}
        for k, vs in groups.items():
            vs = sorted(vs)
            idx = phi * (len(vs) - 1)
            lo, hi = int(math.floor(idx)), int(math.ceil(idx))
            out[k] = vs[lo] + (vs[hi] - vs[lo]) * (idx - lo)
        return out
    if kind == "limit":
        # limitk/limit_ratio: the engine's deterministic md5 series
        # hash, recomputed independently (canonical labelset: sorted
        # label=value pairs, absent omitted)
        import hashlib

        def frac(key):
            canon = "\x1f".join(
                f"{c}\x1e{v}" for c, v in sorted(key) if v
            )
            return int.from_bytes(
                hashlib.md5(canon.encode()).digest()[:8], "big"
            ) / 2**64

        _, k, ratio, child = node
        inner = ref_eval(child, t)
        if ratio is not None:
            if ratio >= 0:
                return {
                    key: v for key, v in inner.items()
                    if frac(key) < ratio
                }
            return {
                key: v for key, v in inner.items()
                if frac(key) >= 1.0 + ratio
            }
        keep = set(sorted(inner, key=frac)[: int(k)])
        return {key: v for key, v in inner.items() if key in keep}
    if kind in ("agg", "agg_postfix", "agg_inline"):
        _, op, by, child = node
        inner = ref_eval(child, t)
        groups: dict[tuple, list[float]] = {}
        for key, v in inner.items():
            gkey = tuple((n, val) for n, val in key if n in by)
            groups.setdefault(gkey, []).append(v)
        agg = {
            "sum": sum,
            "min": min,
            "max": max,
            "count": len,
            "avg": lambda vs: sum(vs) / len(vs),
        }[op]
        return {k: float(agg(vs)) for k, vs in groups.items()}
    if kind == "scalar_op":
        _, op, child, c = node
        inner = ref_eval(child, t)
        f = {
            "+": lambda v: v + c,
            "-": lambda v: v - c,
            "*": lambda v: v * c,
        }[op]
        return {k: f(v) for k, v in inner.items()}
    if kind == "cmp":
        _, op, child, c = node
        inner = ref_eval(child, t)
        keep = {
            ">": lambda v: v > c,
            "<": lambda v: v < c,
            ">=": lambda v: v >= c,
            "<=": lambda v: v <= c,
        }[op]
        return {k: v for k, v in inner.items() if keep(v)}
    if kind == "binop":
        _, op, left, right = node
        a, b = ref_eval(left, t), ref_eval(right, t)
        f = {
            "+": lambda x, y: x + y,
            "-": lambda x, y: x - y,
            "*": lambda x, y: x * y,
        }[op]
        return {k: f(v, b[k]) for k, v in a.items() if k in b}
    if kind == "vcmp":
        _, op, bool_mode, left, right = node
        a, b = ref_eval(left, t), ref_eval(right, t)
        f = {
            ">": lambda x, y: x > y,
            "<": lambda x, y: x < y,
            ">=": lambda x, y: x >= y,
            "<=": lambda x, y: x <= y,
            "==": lambda x, y: x == y,
            "!=": lambda x, y: x != y,
        }[op]
        if bool_mode:  # 1/0 for every matched pair, nothing filtered
            return {
                k: (1.0 if f(v, b[k]) else 0.0)
                for k, v in a.items()
                if k in b
            }
        return {k: v for k, v in a.items() if k in b and f(v, b[k])}
    if kind == "group_binop":
        # left carries the full label set; right was aggregated to the
        # on-labels; many-to-one match keeps the LEFT labels
        _, op, on, left, right = node
        a, b = ref_eval(left, t), ref_eval(right, t)
        f = {
            "+": lambda x, y: x + y,
            "-": lambda x, y: x - y,
            "*": lambda x, y: x * y,
        }[op]
        out = {}
        for k, v in a.items():
            kb = tuple((n, val) for n, val in k if n in on)
            if kb in b:
                out[k] = f(v, b[kb])
        return out
    if kind == "neg":
        return {k: -v for k, v in ref_eval(node[1], t).items()}
    if kind == "setop":
        _, op, left, right = node
        a, b = ref_eval(left, t), ref_eval(right, t)
        if op == "and":
            return {k: v for k, v in a.items() if k in b}
        if op == "unless":
            return {k: v for k, v in a.items() if k not in b}
        out = dict(a)  # or: a wins on overlap, b fills the rest
        for k, v in b.items():
            out.setdefault(k, v)
        return out
    raise AssertionError(kind)


# ---------------------------------------------------------------------------
# renderer + generator
# ---------------------------------------------------------------------------


def render(node) -> str:
    kind = node[0]
    if kind == "sel":
        _, matchers, off = node[:3]
        at = node[3] if len(node) > 3 else None
        base = "m"
        if matchers:
            parts = ", ".join(f'{n}{op}"{v}"' for n, op, v in matchers)
            base = "m{%s}" % parts
        if off:
            base = f"{base} offset {off // 60000}m"
        if at in ("start", "end"):
            base = f"{base} @ {at}()"
        elif at is not None:
            base = f"{base} @ {at // 1000}"
        return base
    if kind == "fn":
        _, fname, matchers, window_ms, off = node[:5]
        at = node[5] if len(node) > 5 else None
        sel = render(("sel", matchers, 0))
        mod = f" offset {off // 60000}m" if off else ""
        if at in ("start", "end"):
            mod = f"{mod} @ {at}()"
        elif at is not None:
            mod = f"{mod} @ {at // 1000}"
        return f"{fname}({sel}[{window_ms // 60000}m]{mod})"
    if kind == "agg_without":
        _, op, drop, child = node
        return f"{op} without ({', '.join(drop)}) ({render(child)})"
    if kind == "quantile":
        _, phi, by, child = node
        return f"quantile by ({', '.join(by)}) ({phi}, {render(child)})"
    if kind == "agg":
        _, op, by, child = node
        if not by:
            return f"{op}({render(child)})"
        return f"{op} by ({', '.join(by)}) ({render(child)})"
    if kind == "agg_postfix":
        # Prometheus's other legal grouping position
        _, op, by, child = node
        return f"{op}({render(child)}) by ({', '.join(by)})"
    if kind == "agg_inline":
        # the argument is a binary expression LED by a range function,
        # with no parentheses of its own: `sum(rate(a[5m]) / rate(b[5m]))`
        _, op, by, (bkind, bop, left, right) = node
        rhs = render(right) if bkind == "binop" else right
        grouping = f" by ({', '.join(by)})" if by else ""
        return f"{op}{grouping} ({render(left)} {bop} {rhs})"
    if kind == "limit":
        _, k, ratio, child = node
        if ratio is not None:
            return f"limit_ratio({ratio}, {render(child)})"
        return f"limitk({k}, {render(child)})"
    if kind == "neg":
        return f"-({render(node[1])})"
    if kind == "scalar_op":
        _, op, child, c = node
        return f"({render(child)}) {op} {c}"
    if kind == "cmp":
        _, op, child, c = node
        return f"({render(child)}) {op} {c}"
    if kind == "binop":
        _, op, left, right = node
        return f"({render(left)}) {op} ({render(right)})"
    if kind == "setop":
        _, op, left, right = node
        return f"({render(left)}) {op} ({render(right)})"
    if kind == "vcmp":
        _, op, bool_mode, left, right = node
        mod = " bool" if bool_mode else ""
        return f"({render(left)}) {op}{mod} ({render(right)})"
    if kind == "group_binop":
        _, op, on, left, right = node
        # NOTE: the right operand must NOT be parenthesized directly
        # after group_left — Prometheus's grammar (and ours) reads a
        # "(" there as the one-side label-copy list
        return (
            f"({render(left)}) {op} on ({', '.join(on)}) group_left "
            f"{render(right)}"
        )
    raise AssertionError(kind)


def _rand_matchers(rng):
    opts = [
        [],
        [("job", "=", rng.choice(["api", "web", "db"]))],
        [("job", "!=", rng.choice(["api", "web", "db"]))],
        [("job", "=~", "api|web")],
        [("job", "!~", "db")],
        [("job", "=", "api"), ("instance", "=", rng.choice(["1", "2"]))],
    ]
    return rng.choice(opts)


def _rand_simple(rng):
    matchers = _rand_matchers(rng)
    # offset ~50% of the time; -1m looks FORWARD (negative offsets)
    off = rng.choice([0, 0, 0, 60_000, 120_000, -60_000])
    # `@` pins the subtree's evaluation time ~30% of the time (a
    # step-aligned instant, a range-start pin, or a range-end pin)
    at = rng.choice(
        [None, None, None, None, 240_000, 420_000, "start", "end"]
    )
    if rng.random() < 0.4:
        return ("sel", matchers, off, at)
    fname = rng.choice(list(_FNS))
    window = rng.choice([60_000, 120_000, 180_000])
    return ("fn", fname, matchers, window, off, at)


def _rand_expr(rng):
    shape = rng.random()
    simple = _rand_simple(rng)
    if shape < 0.2:
        node = simple
    elif shape < 0.25:
        node = ("neg", simple)  # unary minus keeps labels
    elif shape < 0.5:
        by = rng.choice([["job"], ["instance"], ["job", "instance"]])
        op = rng.choice(["sum", "min", "max", "count", "avg"])
        # both Prometheus-legal grouping positions
        kind = "agg" if rng.random() < 0.5 else "agg_postfix"
        node = (kind, op, by, simple)
    elif shape < 0.52:
        node = ("quantile", rng.choice([0.5, 0.9]), ["job"], simple)
    elif shape < 0.55:
        node = (
            "agg_without",
            rng.choice(["sum", "max", "avg"]),
            rng.choice([["instance"], ["job"]]),
            simple,
        )
    elif shape < 0.58:
        node = ("limit", None, rng.choice([0.3, 0.5, 0.7, -0.5]), simple)
    elif shape < 0.61:
        node = ("limit", rng.choice([1, 2, 3]), None, simple)
    elif shape < 0.75:
        node = ("scalar_op", rng.choice(["+", "-", "*"]), simple,
                rng.choice([2, 3, 10]))
    elif shape < 0.8:
        node = ("cmp", rng.choice([">", "<", ">=", "<="]), simple,
                rng.choice([25, 50, 75]))
    elif shape < 0.85:
        # set ops over same-label-schema sides; comparisons make the two
        # series sets genuinely differ so and/or/unless all bite
        left = ("cmp", ">", _rand_simple(rng), rng.choice([25, 50]))
        right = ("cmp", "<", _rand_simple(rng), rng.choice([50, 75]))
        node = ("setop", rng.choice(["and", "or", "unless"]), left, right)
    elif shape < 0.9:
        # vector-vector comparison: one-to-one on the full label set,
        # keeping the left value (or 1/0 with the `bool` modifier)
        node = (
            "vcmp",
            rng.choice([">", "<", ">=", "<=", "==", "!="]),
            rng.random() < 0.5,
            _rand_simple(rng),
            _rand_simple(rng),
        )
    elif shape < 0.95:
        # many-to-one matching: full-label left against a right side
        # aggregated to the on-labels, value kept per LEFT series
        on = ["job"]
        left = _rand_simple(rng)
        right = ("agg", "sum", on, _rand_simple(rng))
        node = ("group_binop", rng.choice(["+", "-", "*"]), on, left, right)
    else:
        # vector-vector arithmetic: same selector+window both sides
        # (identical presence), different range functions; grouped so the
        # one-to-one match is on the by-labels
        matchers = _rand_matchers(rng)
        window = rng.choice([120_000, 180_000])
        by = rng.choice([["job"], ["job", "instance"]])
        f1, f2 = rng.sample(list(_FNS), 2)
        left = ("agg", "sum", by, ("fn", f1, matchers, window, 0))
        right = ("agg", "sum", by, ("fn", f2, matchers, window, 0))
        node = ("binop", rng.choice(["+", "-", "*"]), left, right)
    return node


def _rand_agg_inline(rng):
    """An aggregation over ``<range function> <op> <scalar or range
    function>``; the two range functions share matchers and window, so
    both sides hold the same series (one-to-one match)."""
    matchers = _rand_matchers(rng)
    window = rng.choice([60_000, 120_000, 180_000])
    f1, f2 = rng.sample(list(_FNS), 2)
    left = ("fn", f1, matchers, window, 0)
    if rng.random() < 0.5:
        child = ("scalar_op", rng.choice(["+", "-", "*"]), left,
                 rng.choice([1, 2, 60]))
    else:
        child = ("binop", rng.choice(["+", "-", "*"]), left,
                 ("fn", f2, matchers, window, 0))
    by = rng.choice([[], ["job"], ["instance"], ["job", "instance"]])
    return ("agg_inline", rng.choice(["sum", "min", "max", "count", "avg"]),
            by, child)


def _canon(rows) -> dict[tuple, float]:
    out = {}
    for r in rows:
        d = r.asDict()
        t = d.pop("t")
        d.pop("__name__", None)
        v = d.pop("value")
        key = (t,) + tuple(sorted((k, val) for k, val in d.items()))
        out[key] = v
    return out


def _check_against_reference(fuzz_engine, nodes) -> int:
    """Engine vs reference over every step; returns the number of
    non-empty answers."""
    n_nonempty = 0
    for case, node in enumerate(nodes):
        text = render(node)
        got = _canon(
            fuzz_engine.query_range(
                text, START, END, STEP, lookback_ms=LOOKBACK
            ).collect()
        )
        want = {}
        for t in STEPS:
            for key, v in ref_eval(node, t).items():
                want[(t,) + tuple(sorted(key))] = v
        assert set(got) == set(want), (
            f"case {case}: {text}\nonly-engine="
            f"{sorted(set(got) - set(want))[:4]} "
            f"only-ref={sorted(set(want) - set(got))[:4]}"
        )
        for k, v in want.items():
            assert math.isclose(got[k], v, rel_tol=1e-9, abs_tol=1e-9), (
                f"case {case}: {text} @ {k}: engine={got[k]} ref={v}"
            )
        n_nonempty += bool(want)
    return n_nonempty


#: outer aggregations over ``*_over_time`` whose per-series step is
#: algebraically redundant (a sum of counts, a max of maxes, a min of
#: mins), with ``by``, ``without``, no grouping and ``offset``
_AGG_OVER_TIME = [
    ("agg", "sum", ["job"], ("fn", "count_over_time", [], 120_000, 0)),
    ("agg", "sum", [], ("fn", "count_over_time", [], 120_000, 0)),
    ("agg_without", "sum", ["instance"],
     ("fn", "count_over_time", [], 120_000, 0)),
    ("agg", "max", ["job"], ("fn", "max_over_time", [], 180_000, 0)),
    ("agg", "min", [], ("fn", "min_over_time", [], 120_000, 0)),
    ("agg", "sum", ["job"], ("fn", "count_over_time", [], 120_000, 60_000)),
]


def test_promql_fuzz_against_reference(fuzz_engine):
    rng = random.Random(20260814)
    nodes = [_rand_expr(rng) for _ in range(75)] + _AGG_OVER_TIME
    # the generator must not be degenerate (all-empty results prove nothing)
    assert _check_against_reference(fuzz_engine, nodes) >= 15


def test_promql_fuzz_agg_over_range_function_binary(fuzz_engine):
    """Aggregations whose argument is a range-function-led binary
    expression (`sum(rate(a[5m]) / rate(b[5m]))`, `avg(rate(m[5m]) *
    60)`): the shape of the standard error-ratio panel, which the parser
    once rejected with ``expected ')'``."""
    rng = random.Random(20261017)
    nodes = [_rand_agg_inline(rng) for _ in range(20)]
    assert _check_against_reference(fuzz_engine, nodes) >= 10

"""Predicate / matcher surface (reference P2-P7).

The reference supports three predicate shapes — equality, >=, <= — combined
only by AND (`compute/scan.go:21-49`, `dataset/predicate.go:14-42`), and its
Prometheus querier maps *every* matcher type to equality
(`prometheus/querier.go:71-73`, a documented fidelity gap).  Here each
predicate is a Catalyst ``Column`` expression, so pushdown, reordering,
bloom/zone-map/dictionary pruning (reference P8-P13) all happen inside the
Parquet scan for free; we additionally implement `!=` and regex matchers
correctly rather than reproducing the reference's bug.

All helpers return ``Column``s; :func:`conjunction` folds them with AND —
the only combinator the reference has (`dataset/predicate.go:24-42`).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: matcher operator names, mirroring PromQL's =, !=, =~, !~
EQ, NEQ, RE, NRE = "=", "!=", "=~", "!~"


@dataclass(frozen=True)
class Matcher:
    """A label matcher: (name, op, value) — the unit of series selection
    in the reference querier (`prometheus/querier.go:66-73`)."""

    name: str
    op: str
    value: str

    def matches_empty(self) -> bool:
        """Whether this matcher matches the empty string.

        Prometheus treats a label that is ABSENT from a series as equal
        to ``""`` (`model/labels`: unset == empty).  When a matcher
        names a label column the store has never materialized, every
        series has that label absent, so the selector's effect is
        static: keep ALL series if the matcher matches ``""``, keep
        NONE otherwise.  `{foo=~".*"}` and `{foo=""}` keep everything;
        `{foo!=""}` ("series that have the label") and `{foo="x"}`
        keep nothing.  :func:`apply_matchers` is the only caller: every
        reader resolves absent labels through it, never by hand.
        """
        import re

        if self.op == EQ:
            return self.value == ""
        if self.op == NEQ:
            return self.value != ""
        matched = re.fullmatch(f"(?:{self.value})", "") is not None
        if self.op == RE:
            return matched
        if self.op == NRE:
            return not matched
        raise ValueError(f"unsupported matcher op {self.op!r}")

    def to_column(self) -> Column:
        # backtick-quote: UTF-8 label names (Prometheus 3.x quoted
        # syntax) may contain dots, which a bare F.col would read as
        # struct access
        col = F.col("`" + self.name.replace("`", "``") + "`")
        if self.op == EQ:
            return col == F.lit(self.value)
        if self.op == NEQ:
            return col != F.lit(self.value)
        if self.op == RE:
            return _regex_column(col, self.value, negate=False)
        if self.op == NRE:
            return _regex_column(col, self.value, negate=True)
        raise ValueError(f"unsupported matcher op {self.op!r}")


_REGEX_META = set(".^$*+?()[]{}|\\")


def _is_literal(pattern: str) -> bool:
    return not any(c in _REGEX_META for c in pattern)


def _regex_column(col: Column, pattern: str, negate: bool) -> Column:
    """Compile a fully-anchored PromQL regex matcher, rewriting the common
    literal shapes to predicates the Parquet reader can push down:

    - ``api``          -> equality        (pushed: Eq / dictionary / bloom)
    - ``a|b|c``        -> IN list         (pushed: In)
    - ``api.*``        -> prefix match    (pushed: StringStartsWith)

    ``rlike`` never reaches PushedFilters, so at 100 TB an un-rewritten
    ``job=~"api.*"`` forces a full-column decode of every row group; the
    rewrite turns it into footer-level pruning.  Anything non-literal
    falls back to an anchored ``rlike`` residual.
    """
    rewritten = None
    if _is_literal(pattern):
        # includes "" — PromQL `=~""` matches only the empty string
        return (col != F.lit(pattern)) if negate else (col == F.lit(pattern))
    parts = pattern.split("|")
    if len(parts) > 1 and all(p and _is_literal(p) for p in parts):
        rewritten = col.isin(parts)
    elif pattern.endswith(".*") and pattern[:-2] and _is_literal(pattern[:-2]):
        rewritten = col.startswith(pattern[:-2])
    if rewritten is not None:
        return ~rewritten if negate else rewritten
    anchored = col.rlike(f"^(?:{pattern})$")
    return ~anchored if negate else anchored


def equals(column: str, value) -> Column:
    """P2 — `compute/scan.go:21-29`."""
    return F.col(column) == F.lit(value)


def not_equals(column: str, value) -> Column:
    return F.col(column) != F.lit(value)


def regex_match(column: str, pattern: str) -> Column:
    return _regex_column(F.col(column), pattern, negate=False)


def regex_not_match(column: str, pattern: str) -> Column:
    return _regex_column(F.col(column), pattern, negate=True)


def gte(column: str, value) -> Column:
    """P3 — `compute/scan.go:31-39`."""
    return F.col(column) >= F.lit(value)


def lte(column: str, value) -> Column:
    """P4 — `compute/scan.go:41-49`."""
    return F.col(column) <= F.lit(value)


def conjunction(predicates: Iterable[Column]) -> Column:
    """P5 — AND of all predicates (`dataset/predicate.go:14-42`).

    Catalyst reorders and pushes the conjuncts down to the Parquet scan,
    which subsumes the reference's hand-rolled predicate ordering (P6,
    `compute/scan.go:60`).
    """
    preds = list(predicates)
    if not preds:
        return F.lit(True)
    return reduce(lambda a, b: a & b, preds)


def apply_matchers(df: DataFrame, matchers: Iterable[Matcher]) -> DataFrame:
    """P7 scan driver — the whole filter pipeline (`compute/scan.go:51-78`).

    The single owner of series selection: every reader filters label
    matchers through here.  Each matcher on a column of ``df`` is one
    filter (Catalyst combines them into the scan's pushed filters).  A
    matcher on a column ``df`` lacks names a label absent (``""``) on
    every series (`schema/chunk.go:109-112`), so
    :meth:`Matcher.matches_empty` resolves it statically: a no-op, or
    ``filter(lit(False))``.  Catalyst folds that dead filter to an empty
    ``LocalTableScan`` (even under an aggregate over a Parquet scan), so
    a dead selector scans nothing and callers need no branch for it.
    """
    for m in matchers:
        if m.name in df.columns:
            df = df.filter(m.to_column())
        elif not m.matches_empty():
            return df.filter(F.lit(False))
    return df

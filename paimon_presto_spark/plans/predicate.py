"""Structured predicate model — the engine's equivalent of Presto's
``TupleDomain`` → Paimon ``Predicate`` conversion.

Reference: ``PrestoFilterConverter.java:71-186`` converts the engine's
column domains into a native predicate tree supporting ``=, <, <=, >, >=,
IN, IS NULL, IS NOT NULL`` plus AND/OR composition, with unsupported shapes
safely left to the engine (``:87-90``). We implement the same contract
three ways from one AST:

- ``to_spark()``   — a Spark ``Column`` (the residual filter; always
  applied, so pruning is advisory exactly like the reference, which keeps
  the Filter node on top — ``PrestoComputePushdown.java:283-284``)
- ``test_stats()`` — can a file with these column min/max/null-count stats
  possibly contain a matching row? (file skipping, A7/A8)
- ``test_row()``   — evaluate against a plain dict (partition pruning on
  partition values, A10/A11)

The tri-valued semantics of ``test_stats`` are conservative: ``True`` means
"cannot rule out", never "definitely matches". Columns with no stats (e.g.
nested types, which the reference also refuses to push —
``PrestoFilterConverter.java:121-127``) simply return True.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column

from paimon_presto_spark.plans import fileindex


class Predicate:
    def to_spark(self) -> Column:
        raise NotImplementedError

    def test_stats(self, stats: dict[str, dict[str, Any]], row_count: int) -> bool:
        raise NotImplementedError

    def test_row(self, row: dict[str, Any]) -> bool:
        raise NotImplementedError

    def test_index(self, index: dict[str, dict]) -> bool:
        """May this file contain matching rows, per its bloom-filter index
        (``plans.fileindex``)? True = cannot rule out (the safe default:
        only equality shapes override). `index` maps column → bloom
        descriptor; a column absent from the index never skips."""
        return True

    def references(self) -> set[str]:
        raise NotImplementedError

    def __and__(self, other: "Predicate") -> "Predicate":
        return And([self, other])

    def __or__(self, other: "Predicate") -> "Predicate":
        return Or([self, other])


import datetime as _dt
import re as _re
from decimal import Decimal as _Decimal

_TS_RE = _re.compile(r"^\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2})?")


def _norm_val(v):
    """Normalize timestamp/date-shaped strings to datetime so stats
    comparisons are chronological, not lexicographic. Manifest stats store
    timestamps as strings; a literal in a different textual form (e.g.
    '...01.123' vs '...01.123000') would otherwise compare wrongly and
    either skip a matching file (lost rows) or keep extras (harmless)."""
    if isinstance(v, str) and _TS_RE.match(v):
        try:
            return _dt.datetime.fromisoformat(v.replace(" ", "T"))
        except ValueError:
            return v
    if isinstance(v, _dt.datetime):
        return v
    if isinstance(v, _dt.date):
        return _dt.datetime(v.year, v.month, v.day)
    return v


def _stat(stats, col):
    s = stats.get(col) or {}
    return _norm_val(s.get("min")), _norm_val(s.get("max")), s.get("null_count")


def _as_float_if_mixed(lo, hi, v):
    """A decimal compared with a float compares as doubles in Spark, so a
    Decimal bound meets a float literal (or a float bound a Decimal
    literal) as floats; Python's exact mixed comparison would disagree
    with the filter at the boundary and skip a matching file."""
    if any(isinstance(x, float) for x in (lo, hi, v)):
        return tuple(float(x) if isinstance(x, _Decimal) else x for x in (lo, hi, v))
    return lo, hi, v


@dataclass(frozen=True)
class Comparison(Predicate):
    """=, <, <=, >, >= against a literal."""

    op: str  # 'eq' | 'lt' | 'lte' | 'gt' | 'gte'
    column: str
    value: Any

    _SPARK = {
        "eq": lambda c, v: c == v,
        "lt": lambda c, v: c < v,
        "lte": lambda c, v: c <= v,
        "gt": lambda c, v: c > v,
        "gte": lambda c, v: c >= v,
    }

    def to_spark(self) -> Column:
        return self._SPARK[self.op](F.col(self.column), F.lit(self.value))

    def test_stats(self, stats, row_count) -> bool:
        lo, hi, _ = _stat(stats, self.column)
        if lo is None or hi is None:
            return True  # no stats → cannot skip
        lo, hi, v = _as_float_if_mixed(lo, hi, _norm_val(self.value))
        try:
            if self.op == "eq":
                return lo <= v <= hi
            if self.op == "lt":
                return lo < v
            if self.op == "lte":
                return lo <= v
            if self.op == "gt":
                return hi > v
            if self.op == "gte":
                return hi >= v
        except TypeError:
            return True  # incomparable types → don't skip
        return True

    def test_row(self, row) -> bool:
        v = row.get(self.column)
        if v is None:
            return False
        try:
            return {
                "eq": v == self.value,
                "lt": v < self.value,
                "lte": v <= self.value,
                "gt": v > self.value,
                "gte": v >= self.value,
            }[self.op]
        except TypeError:
            return True

    def test_index(self, index) -> bool:
        if self.op != "eq":
            return True
        bloom = index.get(self.column)
        if bloom is None:
            return True
        return fileindex.might_contain(bloom, self.value)

    def references(self):
        return {self.column}


@dataclass(frozen=True)
class In(Predicate):
    column: str
    values: tuple

    def to_spark(self) -> Column:
        return F.col(self.column).isin(list(self.values))

    def test_stats(self, stats, row_count) -> bool:
        lo, hi, _ = _stat(stats, self.column)
        if lo is None or hi is None:
            return True
        try:
            return any(
                a <= x <= b
                for a, b, x in (
                    _as_float_if_mixed(lo, hi, _norm_val(v)) for v in self.values
                )
            )
        except TypeError:
            return True

    def test_row(self, row) -> bool:
        return row.get(self.column) in self.values

    def test_index(self, index) -> bool:
        bloom = index.get(self.column)
        if bloom is None:
            return True
        bits, m = fileindex.decode(bloom)  # decode once for all IN values
        return any(
            fileindex.might_contain_decoded(bits, m, fileindex.probe_key(bloom, v))
            for v in self.values
        )

    def references(self):
        return {self.column}


@dataclass(frozen=True)
class IsNull(Predicate):
    column: str
    negated: bool = False

    def to_spark(self) -> Column:
        c = F.col(self.column)
        return c.isNotNull() if self.negated else c.isNull()

    def test_stats(self, stats, row_count) -> bool:
        _, _, nulls = _stat(stats, self.column)
        if nulls is None:
            return True
        if self.negated:
            return nulls < row_count  # some non-null exists
        return nulls > 0

    def test_row(self, row) -> bool:
        is_null = row.get(self.column) is None
        return (not is_null) if self.negated else is_null

    def references(self):
        return {self.column}


@dataclass(frozen=True)
class StartsWith(Predicate):
    """String prefix match (``col LIKE 'prefix%'``) — pushable to min/max
    stats: a file overlaps the prefix iff its range intersects
    ``[prefix, successor(prefix))`` where the successor increments the
    prefix's last character (Paimon's startsWith leaf predicate; Spark
    pushes it as ``StringStartsWith``)."""

    column: str
    prefix: str

    def to_spark(self) -> Column:
        return F.col(self.column).startswith(self.prefix)

    def _successor(self) -> str | None:
        # smallest string strictly greater than every string with this
        # prefix; None when every char is the max codepoint (no upper bound)
        p = self.prefix
        while p and ord(p[-1]) >= 0x10FFFF:
            p = p[:-1]
        if not p:
            return None
        return p[:-1] + chr(ord(p[-1]) + 1)

    def test_stats(self, stats, row_count) -> bool:
        lo, hi, _ = _stat(stats, self.column)
        if lo is None or hi is None:
            return True
        if not isinstance(lo, str) or not isinstance(hi, str):
            return True  # stats not strings → no conclusion
        if hi < self.prefix:
            return False
        succ = self._successor()
        if succ is not None and lo >= succ:
            return False
        return True

    def test_row(self, row) -> bool:
        v = row.get(self.column)
        return isinstance(v, str) and v.startswith(self.prefix)

    def references(self):
        return {self.column}


@dataclass(frozen=True)
class And(Predicate):
    children: Sequence[Predicate]

    def to_spark(self) -> Column:
        out = self.children[0].to_spark()
        for c in self.children[1:]:
            out = out & c.to_spark()
        return out

    def test_stats(self, stats, row_count) -> bool:
        if not all(c.test_stats(stats, row_count) for c in self.children):
            return False
        # TupleDomain-style per-column range intersection (the reference
        # intersects domains before conversion — PrestoFilterConverter.java
        # :154-186 builds one conjunction per column's range set): a
        # contradictory conjunction like `a >= 15 AND a < 12` admits no row,
        # whatever the file stats say.
        by_col: dict[str, list[Comparison]] = {}
        for c in self.children:
            if isinstance(c, Comparison):
                by_col.setdefault(c.column, []).append(c)
        for comps in by_col.values():
            lo, lo_inc, hi, hi_inc = None, True, None, True
            try:
                for c in comps:
                    if c.op in ("gt", "gte", "eq"):
                        strict = c.op == "gt"
                        if lo is None or c.value > lo or (c.value == lo and strict):
                            lo, lo_inc = c.value, not strict
                    if c.op in ("lt", "lte", "eq"):
                        strict = c.op == "lt"
                        if hi is None or c.value < hi or (c.value == hi and strict):
                            hi, hi_inc = c.value, not strict
                if lo is not None and hi is not None:
                    if lo > hi or (lo == hi and not (lo_inc and hi_inc)):
                        return False
            except TypeError:
                continue  # incomparable literals → no conclusion
        return True

    def test_row(self, row) -> bool:
        return all(c.test_row(row) for c in self.children)

    def test_index(self, index) -> bool:
        return all(c.test_index(index) for c in self.children)

    def references(self):
        return set().union(*(c.references() for c in self.children))


@dataclass(frozen=True)
class Or(Predicate):
    children: Sequence[Predicate]

    def to_spark(self) -> Column:
        out = self.children[0].to_spark()
        for c in self.children[1:]:
            out = out | c.to_spark()
        return out

    def test_stats(self, stats, row_count) -> bool:
        return any(c.test_stats(stats, row_count) for c in self.children)

    def test_row(self, row) -> bool:
        return any(c.test_row(row) for c in self.children)

    def test_index(self, index) -> bool:
        return any(c.test_index(index) for c in self.children)

    def references(self):
        return set().union(*(c.references() for c in self.children))


def skip_safe_predicate(
    pred: Predicate, safe_cols: set[str] | None
) -> Predicate | None:
    """The largest part of `pred` that may drive per-FILE skipping when
    only `safe_cols` are allowed to prune (None = every column allowed).

    Merge-on-read correctness: for a primary-key table each key's versions
    span MANY files, and the merged value comes from the NEWEST one. A
    per-file skip on a value column can drop the file holding the newest
    version while keeping an older matching one — the scan then resurrects
    a stale row. Only columns constant across a key's versions (primary
    key + partition columns) may prune files; everything else must stay a
    post-merge filter. Paimon core enforces the same split for its
    primary-key scans; append tables and deletion-vector tables (whose
    live rows are already current state) have no such constraint.

    Top-level AND conjuncts prune independently (the reference's
    TupleDomain decomposition); a conjunct referencing any unsafe column
    is excluded whole — ORs never split.
    """
    if safe_cols is None:
        return pred
    conjs = list(pred.children) if isinstance(pred, And) else [pred]
    keep = [c for c in conjs if c.references() <= safe_cols]
    if not keep:
        return None
    return keep[0] if len(keep) == 1 else And(keep)


class P:
    """Factory namespace: ``P.eq('a', 7) & P.lt('b', 3)``."""

    @staticmethod
    def eq(col, v):
        return Comparison("eq", col, v)

    @staticmethod
    def lt(col, v):
        return Comparison("lt", col, v)

    @staticmethod
    def lte(col, v):
        return Comparison("lte", col, v)

    @staticmethod
    def gt(col, v):
        return Comparison("gt", col, v)

    @staticmethod
    def gte(col, v):
        return Comparison("gte", col, v)

    @staticmethod
    def between(col, lo, hi):
        return And([Comparison("gte", col, lo), Comparison("lte", col, hi)])

    @staticmethod
    def in_(col, values):
        return In(col, tuple(values))

    @staticmethod
    def starts_with(col, prefix):
        return StartsWith(col, prefix)

    @staticmethod
    def is_null(col):
        return IsNull(col)

    @staticmethod
    def not_null(col):
        return IsNull(col, negated=True)

    @staticmethod
    def and_(*ps):
        return And(list(ps))

    @staticmethod
    def or_(*ps):
        return Or(list(ps))

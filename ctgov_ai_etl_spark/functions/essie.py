"""Client-side evaluation of the Essie filter grammar.

The reference's only query language is the ClinicalTrials.gov Essie
expression it ships to the server as ``filter.advanced``
(/root/reference/etl.py:97-105; constructs exercised in
/root/reference/config.example.yaml:4-12).  This module re-expresses
each construct as a Catalyst Column predicate so the same semantics
run client-side over any DataFrame — and, being plain expressions,
they push down to parquet scans for free:

=====================  =========================================
Essie construct        helper
=====================  =========================================
``AREA[F]VALUE``       :func:`area_eq`
``AREA[F]RANGE[a,b]``  :func:`area_range` (MIN/MAX sentinels)
``AREA[F]MISSING``     :func:`area_missing`
``SEARCH[Study]t``     :func:`search_text`
``SEARCH[Loc](expr)``  :func:`search_nested` (∃ array element)
AND / OR / ( )         plain ``&`` / ``|`` / parentheses
=====================  =========================================
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def area_eq(col: Column | str, value: object) -> Column:
    """``AREA[Field]VALUE`` — equality / enum match."""
    return _c(col) == F.lit(value)


def area_range(
    col: Column | str,
    lo: object | None,
    hi: object | None,
    typ: str | None = None,
) -> Column:
    """``AREA[Field]RANGE[lo,hi]`` — inclusive range; ``None`` for the
    MIN/MAX sentinel bounds (half-open)."""
    c = _c(col)
    conds = []
    if lo is not None:
        lo_lit = F.lit(lo).cast(typ) if typ else F.lit(lo)
        conds.append(c >= lo_lit)
    if hi is not None:
        hi_lit = F.lit(hi).cast(typ) if typ else F.lit(hi)
        conds.append(c <= hi_lit)
    if not conds:
        return F.lit(True)
    pred = conds[0]
    for extra in conds[1:]:
        pred = pred & extra
    return pred


def area_missing(col: Column | str) -> Column:
    """``AREA[Field]MISSING`` — field absent (NULL internally; the
    reference's 'N/A' sentinel exists only at sinks, SURVEY.md §1.2)."""
    return _c(col).isNull()


def area_not_missing(col: Column | str) -> Column:
    """Negated MISSING."""
    return _c(col).isNotNull()


def search_text(col: Column | str, term: str) -> Column:
    """``SEARCH[Study]term`` baseline: case-folded containment."""
    return F.lower(_c(col)).contains(term.lower())


def search_nested(array_col: Column | str, pred) -> Column:
    """``SEARCH[Location](expr)`` — ∃ element of a repeated nested
    group satisfying ``pred`` (a lambda over the element struct), e.g.
    ``search_nested("locations", lambda x: x["country"] == "Canada")``."""
    return F.exists(_c(array_col), pred)

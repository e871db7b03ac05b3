"""The one pruning test, ``engine._refutes``, checked as a property
without Spark: a zone built the way the encoder builds part and block
zones may be refuted only when none of its rows matches the predicate.

Match semantics are SQL's as Spark and DuckDB apply them: NULL matches
only IS NULL; NaN equals NaN and sorts above every other number; -0.0
equals 0.0. Numbers compare exactly, as the Python values of the where
grammar do. A string and a number never compare: such a predicate may
match (Spark would cast), so it must never refute."""

from __future__ import annotations

import json
import math

import pyarrow as pa
from hypothesis import example, given, settings
from hypothesis import strategies as st

from sparkcodec.engine import (
    _ALL_NULL,
    _part_col_stats,
    _part_col_value_index,
    _refutes,
)

# small pools make data and probes collide; the wide draws cover extremes
_INTS = st.one_of(st.integers(-20, 20), st.integers(-(1 << 62), 1 << 62))
_FLOATS = st.one_of(
    st.sampled_from([0.0, -0.0, float("nan"), float("inf"), -float("inf")]),
    st.integers(-80, 80).map(lambda i: i / 4),
    st.floats(allow_nan=True, allow_infinity=True),
)
_STRS = st.text(alphabet="abcxyz", max_size=4)
# (values, many distinct values for a bloom, arrow type) per column kind
_KINDS = {
    "i64": (_INTS, st.integers(-1000, 1000), pa.int64()),
    "f64": (_FLOATS, st.integers(-1000, 1000).map(lambda i: i / 4), pa.float64()),
    "str": (_STRS, st.text(alphabet="abcxyz", min_size=3, max_size=5), pa.string()),
}


@st.composite
def _columns(draw):
    """(values, arrow type): nulls anywhere, sometimes all-NULL runs or
    an all-NULL column, and sometimes enough distinct values for a
    bloom instead of a value set."""
    elem, wide, typ = _KINDS[draw(st.sampled_from(sorted(_KINDS)))]
    vals = draw(st.lists(st.one_of(st.none(), elem), max_size=30))
    if draw(st.booleans()):
        vals += draw(st.lists(wide, min_size=70, max_size=120, unique=True))
    if draw(st.booleans()):
        at = draw(st.integers(0, len(vals)))
        vals[at:at] = [None] * draw(st.integers(1, 20))
    if draw(st.integers(0, 9)) == 0:
        vals = [None] * len(vals)
    return vals, typ


def _probe():
    return st.one_of(_INTS, _FLOATS, _STRS)


_PREDS = st.one_of(
    st.tuples(st.just("c"), st.one_of(st.none(), _probe()),
              st.one_of(st.none(), _probe())),
    _probe().map(lambda v: ("c", v, v)),
    st.lists(_probe(), min_size=1, max_size=5).map(lambda vs: ("c", tuple(vs))),
    st.sampled_from([("c", "isnull"), ("c", "notnull")]),
)


class _Unknown(Exception):
    """The comparison has no SQL answer without a cast."""


def _key(v):
    if isinstance(v, str):
        return ("s", v)
    if isinstance(v, float) and math.isnan(v):
        return ("n", 1, 0)
    return ("n", 0, v)


def _le(a, b):
    ka, kb = _key(a), _key(b)
    if ka[0] != kb[0]:
        raise _Unknown
    return ka <= kb


def _all(tests) -> bool:
    """SQL AND: False wins over unknown."""
    unknown = False
    for t in tests:
        try:
            if not t():
                return False
        except _Unknown:
            unknown = True
    if unknown:
        raise _Unknown
    return True


def _matches(v, w) -> bool:
    if len(w) == 2 and isinstance(w[1], str):
        return (v is None) == (w[1] == "isnull")
    if v is None:
        return False
    if len(w) == 2:  # SQL OR over the values: True wins over unknown
        return not _all([lambda p=p: not (_le(v, p) and _le(p, v)) for p in w[1]])
    _, lo, hi = w
    return _all([lambda: lo is None or _le(lo, v), lambda: hi is None or _le(v, hi)])


def _may_match(vals, w) -> bool:
    for v in vals:
        try:
            if _matches(v, w):
                return True
        except _Unknown:
            return True
    return False


def _zone(arr: pa.Array) -> dict:
    """A part zone as the encoder records it (through its JSON
    lineage); a block zone is the same without value set and bloom."""
    vset, bloom = _part_col_value_index(arr)
    z = {"n": len(arr), "nc": arr.null_count, "mm": _part_col_stats(arr),
         "vset": vset, "bloom": bloom}
    return json.loads(json.dumps(z))


@settings(max_examples=1000, deadline=None)
@given(_columns(), _PREDS)
# NaN sorts above every number, so bounds that skip it refute wrongly
@example(([float("nan"), 1.0], pa.float64()), ("c", 5, None))
# NaN equals NaN, unlike in a Python set
@example(([float("nan")] * 3, pa.float64()), ("c", (float("nan"),)))
def test_refuted_zone_holds_no_match(col, w):
    vals, typ = col
    arr = pa.array(vals, type=typ)
    z = _zone(arr)
    refuted = _refutes(w)
    if refuted(z):
        assert not _may_match(arr.to_pylist(), w), (z, w)
    block = {k: z[k] for k in ("n", "nc", "mm")}
    if refuted(block):
        assert refuted(z), "a block zone knows less than a part zone"


@given(_PREDS)
def test_absent_column_is_all_null(w):
    """A column the part does not hold reads NULL everywhere: only
    IS NULL keeps it."""
    assert _refutes(w)(_ALL_NULL) == (w != ("c", "isnull"))

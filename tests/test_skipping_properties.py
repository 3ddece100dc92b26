"""Property-based soundness proof for the manifest data-skipping
logic (sinks/atomic.py): for ARBITRARY file contents and predicates,
a file that `_file_may_match` prunes must contain NO row satisfying
the predicate under Spark's comparison semantics (NaN greatest,
NaN == NaN, NULL matches nothing). Stats are computed here exactly the
way the parquet footer path derives them (min/max over non-null
finite-bound values, null counts, dropped oversized-string bounds), so
every generated case is a miniature footer+prune round trip. Pruning
may be arbitrarily conservative — keeping a file is always legal — so
the ONLY property asserted is: pruned ⇒ zero matching rows.
"""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from stupp_exclusion_etl_spark.sinks.atomic import (
    _STAT_MAX_STR,
    _enc_stat_value,
    _file_may_match,
    _prefilter_mask,
)

_OPS = ["=", "<", "<=", ">", ">=", "in", "is_null", "not_null"]


def _spark_matches(value, op, literals, is_float: bool) -> bool:
    """Spark SQL predicate semantics for one row value. NULL matches
    no value predicate; NaN equals NaN and sorts above every double."""
    if op == "is_null":
        return value is None
    if op == "not_null":
        return value is not None
    if value is None:
        return False

    def cmp(a, b) -> int:
        if is_float:
            a_nan = isinstance(a, float) and math.isnan(a)
            b_nan = isinstance(b, float) and math.isnan(b)
            if a_nan and b_nan:
                return 0
            if a_nan:
                return 1
            if b_nan:
                return -1
        return (a > b) - (a < b)

    if op == "=":
        return cmp(value, literals[0]) == 0
    if op == "in":
        return any(cmp(value, lit) == 0 for lit in literals)
    c = cmp(value, literals[0])
    return {"<": c < 0, "<=": c <= 0, ">": c > 0, ">=": c >= 0}[op]


def _footer_style_stats(values, tag: str) -> dict:
    """Per-file stats the way the footer reader derives them: min/max
    over non-null values (encoded; None-encodings drop the bound),
    exact null count. NaN is excluded from bounds like parquet writers
    exclude it."""
    non_null = [v for v in values if v is not None]
    if tag == "f":
        bound_src = [
            v for v in non_null
            if not (isinstance(v, float) and math.isnan(v))
        ]
    else:
        bound_src = non_null
    lo = hi = None
    lo_ok = hi_ok = True
    for v in bound_src:
        e = _enc_stat_value(v, tag)
        if e is None:
            lo_ok = hi_ok = False
            continue
        if lo is None or e < lo:
            lo = e
        if hi is None or e > hi:
            hi = e
    return {
        "rows": len(values),
        "cols": {
            "c": {
                "t": tag,
                "min": lo if lo_ok else None,
                "max": hi if hi_ok else None,
                "nulls": len(values) - len(non_null),
            }
        },
    }


def _check_soundness(values, op, literals, tag: str) -> None:
    fstat = _footer_style_stats(values, tag)
    enc = [_enc_stat_value(lit, tag) for lit in literals]
    if not _file_may_match(fstat, "c", op, enc):
        matches = [
            v for v in values
            if _spark_matches(v, op, literals, tag == "f")
        ]
        assert not matches, (
            f"pruned file contains matching rows: values={values} "
            f"op={op} literals={literals} stats={fstat} matches={matches}"
        )


_ints = st.integers(min_value=-1000, max_value=1000)
_floats = st.one_of(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
    st.just(float("nan")),
    st.just(float("inf")),
    st.just(float("-inf")),
)
_strings = st.one_of(
    st.text(alphabet="abz", max_size=6),
    st.text(alphabet="x", min_size=_STAT_MAX_STR, max_size=_STAT_MAX_STR + 4),
)


def _value_op_lits(elem):
    return st.tuples(
        st.lists(st.one_of(st.none(), elem), min_size=0, max_size=12),
        st.sampled_from(_OPS),
        st.lists(elem, min_size=1, max_size=4),
    )


@settings(max_examples=400, deadline=None)
@given(_value_op_lits(_ints))
def test_int_pruning_never_loses_a_match(case):
    values, op, lits = case
    _check_soundness(values, op, lits, "i")


@settings(max_examples=400, deadline=None)
@given(_value_op_lits(_floats))
def test_float_pruning_never_loses_a_match(case):
    """The adversarial case: NaN sorts above every double in Spark but
    is invisible to footer min/max, and ±inf bounds are dropped — the
    prune rules (no >,>= pruning on floats, NaN literals disable
    pruning) must stay sound under every combination."""
    values, op, lits = case
    _check_soundness(values, op, lits, "f")


@settings(max_examples=400, deadline=None)
@given(_value_op_lits(_strings))
def test_string_pruning_never_loses_a_match(case):
    """Oversized strings drop their bound (writer truncation risk);
    dropped bounds must never turn into wrong pruning."""
    values, op, lits = case
    _check_soundness(values, op, lits, "s")


# -- the driver scan's row prefilter ----------------------------------
#
# read(where) on the driver placement masks rows with pyarrow before
# Spark's own filters run over the LocalRelation. The mask may keep
# extra rows, never drop one: every row _spark_matches keeps must
# survive it, and a literal whose type does not match the column must
# mask nothing, since Spark's implicit casts decide that predicate.

_KIND_OF = {"i": int, "f": float, "s": str}


def _literal_matches(lit, kind: str) -> bool:
    if isinstance(lit, bool) or lit is None:
        return False
    if kind == "f" and isinstance(lit, float) and math.isnan(lit):
        return False  # NaN literal: Spark keeps rows pyarrow would not
    return type(lit) is _KIND_OF[kind]


def _check_prefilter(values, op, literals, arrow_type, kind: str) -> None:
    import pyarrow as pa

    arr = pa.array(values, arrow_type)
    stored = arr.to_pylist()  # float32 columns hold the rounded value
    if op in ("is_null", "not_null"):
        pred, used = ("c", op), []
    else:
        used = literals if op == "in" else literals[:1]
        pred = ("c", op, literals if op == "in" else literals[0])
    mask = _prefilter_mask(pa.table({"c": arr}), [pred])
    if not all(_literal_matches(lit, kind) for lit in used):
        assert mask is None, (values, op, literals)
        return
    kept = mask.to_pylist()
    for i, v in enumerate(stored):
        if _spark_matches(v, op, literals, kind == "f"):
            assert kept[i], (
                f"prefilter dropped a matching row: values={stored} "
                f"op={op} literals={literals} row={i}"
            )


_zeros = st.sampled_from([0.0, -0.0])
_pf_floats = st.one_of(_floats, _zeros)
_pf_strings = st.one_of(st.text(alphabet="abzé€", max_size=4), st.just(""))
_mismatched = st.one_of(
    st.none(), st.booleans(), _ints, _pf_floats, _pf_strings,
)


def _prefilter_case(elem):
    return st.tuples(
        st.lists(st.one_of(st.none(), elem), min_size=0, max_size=12),
        st.sampled_from(_OPS),
        st.one_of(
            st.lists(elem, min_size=1, max_size=4),
            st.lists(_mismatched, min_size=1, max_size=3),
        ),
    )


def _ops_literals(op, lits, draw_empty: bool):
    # `in` also takes the empty list (SQL x IN (): no row matches)
    return [] if op == "in" and draw_empty else lits


@settings(max_examples=300, deadline=None)
@given(_prefilter_case(_ints), st.sampled_from(["int32", "int64"]),
       st.booleans())
def test_int_prefilter_never_drops_a_match(case, width, empty_in):
    import pyarrow as pa

    values, op, lits = case
    _check_prefilter(values, op, _ops_literals(op, lits, empty_in),
                     getattr(pa, width)(), "i")


@settings(max_examples=300, deadline=None)
@given(_prefilter_case(_pf_floats), st.sampled_from(["float32", "float64"]),
       st.booleans())
def test_float_prefilter_never_drops_a_match(case, width, empty_in):
    """NaN rows, ±0.0, ±inf and float32 storage: the mask compares in
    float64 and always keeps NaN rows; NaN literals mask nothing."""
    import pyarrow as pa

    values, op, lits = case
    _check_prefilter(values, op, _ops_literals(op, lits, empty_in),
                     getattr(pa, width)(), "f")


@settings(max_examples=300, deadline=None)
@given(_prefilter_case(_pf_strings), st.booleans())
def test_string_prefilter_never_drops_a_match(case, empty_in):
    """Byte order of UTF-8 equals code point order, which is what
    Spark's binary string comparison and Python's str ordering use."""
    import pyarrow as pa

    values, op, lits = case
    _check_prefilter(values, op, _ops_literals(op, lits, empty_in),
                     pa.string(), "s")

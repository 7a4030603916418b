"""Property: file/partition pruning NEVER excludes a file that holds a
matching row — the data-skipping layer's core contract, attacked from
random tables and predicates (the 2^53 float bug and the lexical
partition compare would both fail these in seconds)."""

import hypothesis.strategies as st
from hypothesis import given, settings

from steel_datafusion_spark.sources.manifest import (
    _part_may_match, _stat_encode,
)

_INTS = st.integers(-2 ** 63 + 1, 2 ** 63 - 1)
_FLOATS = st.floats(allow_nan=False, allow_infinity=False, width=64)
_STRS = st.text(
    alphabet=st.characters(codec="utf-8", exclude_characters="\x00"),
    max_size=6)
_BASE = {"int": _INTS, "float": _FLOATS, "str": _STRS}
_OPS = ["=", "!=", "<", "<=", ">", ">=", "in", "isnull", "isnotnull"]


def _truth(v, op, lit):
    """SQL 3VL row-level semantics the residual filter implements."""
    if op == "isnull":
        return v is None
    if op == "isnotnull":
        return v is not None
    if v is None:
        return False
    if op == "in":
        return v in lit
    return {"=": v == lit, "!=": v != lit, "<": v < lit,
            "<=": v <= lit, ">": v > lit, ">=": v >= lit}[op]


@settings(max_examples=300, deadline=None)
@given(data=st.data())
def test_partition_pruning_never_excludes_matching_dirs(data):
    """A Hive path value's COLUMN type is unknowable, so pruning must
    keep the dir whenever EITHER the string interpretation or the
    numeric interpretation could satisfy the predicate."""
    typ = data.draw(st.sampled_from(["int", "str"]))
    raw = data.draw(_BASE[typ])
    pv = str(raw)
    op = data.draw(st.sampled_from(_OPS))
    if op == "in":
        lit = data.draw(st.lists(st.one_of(_INTS, _STRS),
                                 min_size=1, max_size=4))
        lits = lit
    elif op in ("isnull", "isnotnull"):
        lit, lits = None, []
    else:
        lit = data.draw(st.one_of(_INTS, _FLOATS, _STRS))
        lits = [lit]

    def interp_truth():
        if op == "isnull":
            return False  # pv is a real (non-null) partition value
        if op == "isnotnull":
            return True
        outcomes = []
        # string interpretation (column typed string): only meaningful
        # when every literal is a string
        if all(isinstance(x, str) for x in lits):
            if op == "in":
                outcomes.append(pv in lits)
            else:
                outcomes.append(_truth(pv, op, lit))
        # numeric interpretation (column typed numeric)
        try:
            pn = float(pv)
            nlits = [float(x) for x in lits]
            if op == "in":
                outcomes.append(pn in nlits)
            else:
                outcomes.append(_truth(pn, op, nlits[0]))
        except (TypeError, ValueError, OverflowError):
            pass
        return any(outcomes)

    if interp_truth():
        assert _part_may_match(pv, op, lit) is True


@settings(max_examples=300, deadline=None)
@given(data=st.data())
def test_stat_codec_roundtrips(data):
    """Every encodable stats bound must decode back equal — a lossy
    codec would corrupt [lo, hi] and prune wrongly."""
    import datetime
    import decimal

    from steel_datafusion_spark.sources.manifest import _stat_decode

    v = data.draw(st.one_of(
        _INTS, _FLOATS, _STRS,
        st.datetimes(), st.dates(),
        st.decimals(allow_nan=False, allow_infinity=False)))
    e = _stat_encode(v)
    if e is None:
        return  # type carries no pruning order — nothing to roundtrip
    got = _stat_decode(e)
    if isinstance(v, (datetime.datetime, datetime.date, decimal.Decimal)):
        assert got == v and type(got) is type(v)
    else:
        assert got == v


@settings(max_examples=200, deadline=None)
@given(data=st.data())
def test_datetime_pruning_never_excludes_matching_rows(data):
    """Timestamp columns prune correctly against datetime literals AND
    their ISO-string spellings (the read path accepts both): raw footer
    bounds -> _bound_arrays (timestamp domain) -> _stats_verdict_np."""
    import pyarrow as pa

    from steel_datafusion_spark.sources.filestats import (
        _bound_arrays, _stats_verdict_np,
    )

    vals = data.draw(st.lists(
        st.one_of(st.none(), st.datetimes()), min_size=1, max_size=6))
    op = data.draw(st.sampled_from(["=", "!=", "<", "<=", ">", ">="]))
    lit = data.draw(st.datetimes())
    as_str = data.draw(st.booleans())
    probe = lit.isoformat() if as_str else lit
    nonnull = [v for v in vals if v is not None]
    lo = min(nonnull) if nonnull else None
    hi = max(nonnull) if nonnull else None
    lo_arr, hi_arr, rok = _bound_arrays([lo], [hi])
    tbl = pa.table({
        "rel": pa.array(["f"], type=pa.string()),
        "rows": pa.array([len(vals)], type=pa.int64()),
        "lo:c": lo_arr, "hi:c": hi_arr,
        "nulls:c": pa.array([len(vals) - len(nonnull)], type=pa.int64()),
        "ok:c": pa.array([lo is None or rok[0]], type=pa.bool_()),
    })
    if any(_truth(v, op, lit) for v in vals):
        keep = _stats_verdict_np(tbl, "c", op, probe,
                                 tbl.column("rows").combine_chunks())
        assert bool(keep[0]) is True


@settings(max_examples=300, deadline=None)
@given(data=st.data())
def test_columnar_pruning_never_excludes_matching_rows(data):
    """The r13 COLUMNAR pruning path end-to-end at property scale:
    raw footer bounds -> _bound_arrays (typed/widened write side) ->
    _stats_verdict_np (compiled keep-spec, vectorized read side) must
    keep every file that holds a matching row — including Decimal
    bounds (widened to float64), cross-domain literals (abstain), and
    mixed-type bounds (ok=False, keep always)."""
    import decimal

    import pyarrow as pa

    from steel_datafusion_spark.sources.filestats import (
        _bound_arrays, _stats_verdict_np,
    )

    _DECS = st.decimals(allow_nan=False, allow_infinity=False,
                        places=4, min_value=-10 ** 12, max_value=10 ** 12)
    doms = {"int": _INTS, "float": _FLOATS, "str": _STRS, "dec": _DECS}
    typ = data.draw(st.sampled_from(list(doms) + ["mixed"]))
    if typ == "mixed":
        elem = st.one_of(st.none(), _INTS, _STRS)
    else:
        elem = st.one_of(st.none(), doms[typ])
    vals = data.draw(st.lists(elem, min_size=1, max_size=8))
    op = data.draw(st.sampled_from(_OPS))
    lit_base = st.one_of(_INTS, _FLOATS, _STRS, _DECS)
    if op == "in":
        lit = data.draw(st.lists(lit_base, min_size=1, max_size=4))
    elif op in ("isnull", "isnotnull"):
        lit = None
    else:
        lit = data.draw(lit_base)

    nonnull = [v for v in vals if v is not None]
    nulls = len(vals) - len(nonnull)
    try:
        lo = min(nonnull) if nonnull else None
        hi = max(nonnull) if nonnull else None
    except TypeError:
        # mixed incomparable bounds: the writer marks the file unusable
        lo = hi = None
        if typ != "mixed":
            raise
    lo_arr, hi_arr, _rok = _bound_arrays([lo], [hi])
    ok = [nonnull == [] or (lo is not None and _rok[0])
          or (typ == "mixed" and False)]
    if typ == "mixed" and nonnull and lo is None:
        ok = [False]
    tbl = pa.table({
        "rel": pa.array(["f"], type=pa.string()),
        "rows": pa.array([len(vals)], type=pa.int64()),
        f"lo:c": lo_arr, f"hi:c": hi_arr,
        "nulls:c": pa.array([nulls], type=pa.int64()),
        "ok:c": pa.array(ok, type=pa.bool_()),
    })
    rows_np = tbl.column("rows").combine_chunks()

    def truth(v):
        try:
            return _truth(v, op, lit)
        except (TypeError, decimal.InvalidOperation):
            return False  # incomparable row vs literal: never a match

    if any(truth(v) for v in vals):
        keep = _stats_verdict_np(tbl, "c", op, lit, rows_np)
        assert bool(keep[0]) is True

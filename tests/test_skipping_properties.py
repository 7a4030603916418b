"""Property: file/partition pruning NEVER excludes a file that holds a
matching row — the data-skipping layer's core contract, attacked from
random tables and predicates (the 2^53 float bug and the lexical
partition compare would both fail these in seconds)."""

import hypothesis.strategies as st
from hypothesis import given, settings

from steel_datafusion_spark.sources.manifest import _part_may_match

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


def test_pruning_is_spark_free_and_writes_nothing(tmp_path):
    """The pruner runs on pyarrow/numpy alone: a version dir written
    with pyarrow (two Hive partitions, two files each), stats from the
    footers and a bloom sidecar packed by hand, pruned with a
    plain-Python probe hash.  Range, partition and bloom predicates
    keep exactly the files that can match, and the pruned read leaves
    every file and dir of the version as it was."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from steel_datafusion_spark.sources import filestats

    bits, k_hashes = 128, 2

    def bit_rows(vals):
        # injective for s00..s39: no false positives, so the bloom
        # verdict below is exact
        return [[(2 * int(v[1:]) + i) % bits for i in range(k_hashes)]
                for v in vals]

    d = str(tmp_path / "v1")
    layout = {"p=0/a.parquet": range(0, 10), "p=0/b.parquet": range(10, 20),
              "p=1/a.parquet": range(20, 30), "p=1/b.parquet": range(30, 40)}
    filters = {}
    for rel, ks in layout.items():
        os.makedirs(os.path.join(d, os.path.dirname(rel)), exist_ok=True)
        ss = [f"s{k:02d}" for k in ks]
        pq.write_table(pa.table({"k": pa.array(ks, pa.int64()), "s": ss}),
                       os.path.join(d, rel))
        buf = bytearray(bits // 8)
        for row in bit_rows(ss):
            for b in row:
                buf[b >> 3] |= 1 << (b & 7)
        filters[rel] = bytes(buf)
    assert filestats.write_stats_parquet(d, ["k"]) == 4
    rels = sorted(filters)
    filestats.write_bloom_parquet_table(
        d, "s", pa.table({"rel": rels,
                          "f": pa.array([filters[r] for r in rels],
                                        pa.binary(bits // 8))}),
        bits, k_hashes)

    def snapshot():
        out = set()
        for dirpath, dirs, files in os.walk(d):
            for name in dirs + files:
                path = os.path.join(dirpath, name)
                st_ = os.stat(path)
                out.add((os.path.relpath(path, d), st_.st_size,
                         st_.st_mtime_ns))
        st_ = os.stat(d)
        return out | {(".", st_.st_size, st_.st_mtime_ns)}

    def survivors(where):
        got, total = filestats.prune_with_stats_parquet(
            d, where, lambda col, vals, b, k: bit_rows(vals))
        assert total == 4
        return sorted(got)

    before = snapshot()
    assert survivors([("k", ">=", 15), ("k", "<", 25)]) == \
        ["p=0/b.parquet", "p=1/a.parquet"]
    assert survivors([("p", "=", 1)]) == ["p=1/a.parquet", "p=1/b.parquet"]
    assert survivors([("s", "=", "s33")]) == ["p=1/b.parquet"]
    assert survivors([("s", "in", ["s05", "s33"])]) == \
        ["p=0/a.parquet", "p=1/b.parquet"]
    assert snapshot() == before

"""Columnar per-file statistics: the data-skipping format of the
manifest tables and the one engine that evaluates it.  A real table
format keeps per-file stats as PARQUET (Delta's checkpoint) and
evaluates skipping verdicts columnar, never with a per-file Python
loop; so do these sidecars:

- ``_stats.parquet`` (one per immutable version dir): one ROW per data
  file, with typed columns ``lo:<col>``/``hi:<col>``/``nulls:<col>``/
  ``ok:<col>`` per statted column, ``part:<col>`` per Hive partition
  segment, plus ``rel``/``rows``.  Built from the new files' parquet
  FOOTERS (no row data) read on a driver thread pool, and carried
  forward across versions by vectorized relpath alignment
  (``pc.index_in`` + ``Table.take`` — no per-file Python), so a commit
  still stats only its NEW files.
- ``_bloom-<col>.parquet`` per bloom-indexed column: ``rel`` + a
  fixed-size-binary filter per file (bits/k in the parquet file
  metadata).  This module only stores and probes them; the filters are
  built by one JVM column scan (``manifest._write_bloom_cols``), which
  hashes with Spark's ``xxhash64`` exactly as the probe does.
- Reads (``prune_with_stats_parquet``) load ONLY the probed columns
  (parquet column projection) and evaluate every file's verdict on the
  driver, VECTORIZED: range checks as pyarrow.compute kernels,
  partition checks per *distinct* partition value (dictionary-encode,
  then O(distinct) Python), bloom probes as a numpy bit-test over an
  (n_files, nbytes) uint8 matrix.  A read never writes.

Every verdict is conservative by construction: any unloadable sidecar,
unstatted column, incomparable literal, or failed kernel keeps the file
(the residual filter re-applies the full predicate), so skipping can
only ever read MORE files than necessary, never return a wrong answer.
The one thing per-verdict conservatism cannot cover is a readable but
INCOMPLETE stats table — its rel column is the survivors' source of
truth, so missing rows would drop files, not keep them.  That case is
guarded separately: the writer stamps ``file_count`` into the parquet
metadata, and the pruner cross-checks it (plus, below
``STATS_CENSUS_VERIFY_MAX`` files, an actual directory census).  A
version whose ``_stats.parquet`` is missing or fails that guard prunes
over a directory census instead: partition and bloom verdicts run as
usual and stats verdicts keep every file.

Literals are compiled ONCE into keep-specs (:func:`compile_range_spec`):
exact integer comparisons stay integral (no float64 rounding at 2^53 —
the bug class a ``cast("double")`` would reintroduce), and inexact
conversions WIDEN toward keeping the file (``math.nextafter``), mirroring
the write side, which widens Decimal/huge-int bounds outward when they
don't convert to float64 exactly.

Reference parity note: the reference engine (src/main.rs) delegates
scans to DataFusion, whose ``PruningPredicate`` evaluates min/max
statistics as Arrow kernels inside the engine; this module plays that
role for the manifest tables, at file granularity.
"""

from __future__ import annotations

import concurrent.futures
import datetime
import decimal
import json
import math
import os
import urllib.parse

STATS_PARQUET = "_stats.parquet"
BLOOM_PQ_SUFFIX = ".parquet"
_BLOOM_PREFIX = "_bloom-"

# file count up to which a pruned read CROSS-CHECKS the stats sidecar's
# row count against an actual directory census before trusting its rel
# column as the complete file list (a cheap walk at this scale; past it
# the walk would re-add the O(files) term the columnar prune removed —
# see prune_with_stats_parquet).  Raise for audits.
STATS_CENSUS_VERIFY_MAX = int(
    os.environ.get("SDF_PRUNE_VERIFY_MAX_FILES", 20000))


def stats_parquet_path(data_dir: str) -> str:
    return os.path.join(data_dir, STATS_PARQUET)


def bloom_parquet_path(data_dir: str, col: str) -> str:
    """Per-column parquet bloom sidecar.  The column name is
    percent-encoded, so any column (slashes, spaces, unicode) maps to one
    flat, reversible filename; the ``_`` prefix keeps it out of data
    scans and out of hardlink carry-forward."""
    return os.path.join(
        data_dir,
        _BLOOM_PREFIX + urllib.parse.quote(col, safe="") + BLOOM_PQ_SUFFIX)


def stats_cols_of(data_dir: str) -> list[str]:
    """The statted column list recorded in ``_stats.parquet``'s file
    metadata, or [] — no row reads, just the footer."""
    import pyarrow.parquet as pq

    p = stats_parquet_path(data_dir)
    if not os.path.exists(p):
        return []
    try:
        meta = pq.ParquetFile(p).schema_arrow.metadata or {}
        return list(json.loads(meta.get(b"stats_cols", b"[]")))
    except (OSError, ValueError, KeyError, TypeError):
        return []


# ---------------------------------------------------------------------------
# Write side
# ---------------------------------------------------------------------------

def _part_value_of(rel: str, col: str):
    """(present, value) for one Hive ``col=value`` path segment; the Hive
    null sentinel stays the SENTINEL STRING in the stats table so a
    missing segment (plain file) and a null partition stay distinct."""
    for seg in rel.split(os.sep)[:-1]:
        k, eq, v = seg.partition("=")
        if eq and k == col:
            return True, urllib.parse.unquote(v)
    return False, None


def _part_cols_of_rels(rels: list[str]) -> list[str]:
    """Hive partition column names present in any relpath (order of
    first appearance) — cheap: directory segments repeat heavily, so
    distinct dirnames are few even at 10^6 files."""
    seen: dict[str, None] = {}
    dirs: dict[str, None] = {}
    for rel in rels:
        d = os.path.dirname(rel)
        if d in dirs:
            continue
        dirs[d] = None
        for seg in d.split(os.sep):
            k, eq, _v = seg.partition("=")
            if eq and k not in seen:
                seen[k] = None
    return list(seen)


def _part_arrays(rels: list[str], part_cols: list[str]) -> dict:
    """``part:<col>`` string columns for ``rels`` — the Hive path value
    of each file, null where its path has no such segment."""
    import pyarrow as pa

    return {f"part:{p}": pa.array([_part_value_of(r, p)[1] for r in rels],
                                  type=pa.string())
            for p in part_cols}


def _footer_entry(path: str, cols: list[str]) -> dict:
    """One file's stats from its parquet FOOTER (row-group statistics
    aggregated; row data never read).  Returns {"rows": n, "cols":
    {col: None | {"lo","hi","nulls"} | {"nulls"}}}, which
    ``build_stats_table`` accumulates column by column."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    md = pf.metadata
    agg: dict[str, dict] = {
        c: {"lo": None, "hi": None, "nulls": 0, "ok": True, "seen": False}
        for c in cols}
    for rgi in range(md.num_row_groups):
        rg = md.row_group(rgi)
        for ci in range(md.num_columns):
            cm = rg.column(ci)
            name = cm.path_in_schema
            if name not in agg:
                continue
            a = agg[name]
            a["seen"] = True
            st = cm.statistics
            nc = None if st is None else st.null_count
            if nc is None:
                a["nulls"] = None
            elif a["nulls"] is not None:
                a["nulls"] += nc
            if st is not None and st.has_min_max:
                mn, mx = st.min, st.max
                if not _usable_bound(mn) or not _usable_bound(mx):
                    a["ok"] = False
                    continue
                if a["lo"] is None or _lt(mn, a["lo"]):
                    a["lo"] = mn
                if a["hi"] is None or _lt(a["hi"], mx):
                    a["hi"] = mx
            elif not (nc is not None and nc == rg.num_rows):
                a["ok"] = False  # non-null values with unknowable range
    entry: dict[str, dict | None] = {}
    for c, a in agg.items():
        if not a["seen"] or not a["ok"] or \
                (a["lo"] is None and a["nulls"] is None):
            entry[c] = None  # absent/unusable: UNKNOWN, never prunable
        elif a["lo"] is None:
            entry[c] = {"nulls": a["nulls"]}  # all-null column
        else:
            entry[c] = {"lo": a["lo"], "hi": a["hi"], "nulls": a["nulls"]}
    return {"rows": md.num_rows, "cols": entry}


def _usable_bound(v) -> bool:
    """Bounds with a usable ordering for pruning: numbers, strings,
    dates, datetimes and Decimals (bool/bytes/None carry none)."""
    if isinstance(v, bool) or v is None:
        return False
    return isinstance(v, (int, float, str, datetime.datetime,
                          datetime.date, decimal.Decimal))


def _lt(a, b) -> bool:
    try:
        return a < b
    except TypeError:
        return False


def _widen_float(v, direction: int) -> float:
    """Exact-or-widened float64 of an int/Decimal/float bound: inexact
    conversions move OUTWARD (direction -1 = toward -inf for lo, +1 =
    toward +inf for hi) so the stored range only ever grows — pruning
    with a widened range keeps strictly more files, never fewer."""
    f = float(v)
    if math.isinf(f):
        return f
    exact = (v == decimal.Decimal(f)) if isinstance(v, decimal.Decimal) \
        else (type(v)(f) == v if isinstance(v, int) else True)
    if exact:
        return f
    return math.nextafter(f, -math.inf if direction < 0 else math.inf)


def _bound_arrays(lo_vals: list, hi_vals: list):
    """(lo_array, hi_array, ok_mask) — one typed arrow column pair from
    a version's per-file bounds.  Domain unification:

    - every present bound a genuine int → int64 (EXACT: int bounds imply
      an integer-physical column, so integral comparisons stay integral)
    - any float/Decimal (or int overflowing int64) → float64, inexact
      conversions widened outward
    - all str → string;  all datetime/date → timestamp[us]
    - mixed/unknown domains → that file's pair degrades to null + ok
      False (keep-always), never a guess

    Returns pyarrow arrays (nulls where a file has no usable range) and
    a bool list marking files whose bounds fit the chosen domain."""
    import pyarrow as pa

    present = [(lo, hi) for lo, hi in zip(lo_vals, hi_vals)
               if lo is not None]
    n = len(lo_vals)
    ok = [lo is not None for lo in lo_vals]
    if not present:
        return (pa.nulls(n, pa.int64()), pa.nulls(n, pa.int64()),
                [False] * n)

    def domain_of(v):
        if isinstance(v, bool):
            return None
        if isinstance(v, int):
            return "int" if -(1 << 63) <= v < (1 << 63) else "float"
        if isinstance(v, (float, decimal.Decimal)):
            return "float"
        if isinstance(v, str):
            return "str"
        if isinstance(v, (datetime.datetime, datetime.date)):
            return "ts"
        return None

    doms = {domain_of(lo) for lo, _ in present} | \
           {domain_of(hi) for _, hi in present}
    if doms == {"int"}:
        dom = "int"
    elif doms <= {"int", "float"}:
        dom = "float"
    elif len(doms) == 1:
        dom = doms.pop()
    else:
        dom = None
    if dom is None:
        return (pa.nulls(n, pa.int64()), pa.nulls(n, pa.int64()),
                [False] * n)

    def conv(v, direction):
        if v is None:
            return None
        if dom == "int":
            return int(v)
        if dom == "float":
            return _widen_float(v, direction)
        if dom == "str":
            return v if isinstance(v, str) else None
        if isinstance(v, datetime.datetime):
            return v
        if isinstance(v, datetime.date):
            return datetime.datetime(v.year, v.month, v.day)
        return None

    los, his = [], []
    for i, (lo, hi) in enumerate(zip(lo_vals, hi_vals)):
        if lo is None:
            los.append(None)
            his.append(None)
            continue
        clo, chi = conv(lo, -1), conv(hi, +1)
        if clo is None or chi is None:  # bound outside the domain
            los.append(None)
            his.append(None)
            ok[i] = False
            continue
        los.append(clo)
        his.append(chi)
    typ = {"int": pa.int64(), "float": pa.float64(), "str": pa.string(),
           "ts": pa.timestamp("us")}[dom]
    return pa.array(los, type=typ), pa.array(his, type=typ), ok


# threads reading new files' footers in build_stats_table (pyarrow
# releases the GIL around the file I/O)
_FOOTER_WORKERS = 16


def build_stats_table(data_dir: str, cols: list[str],
                      base_dir: str | None = None):
    """The version's ``_stats.parquet`` as an in-memory pyarrow Table:
    one row per data file, sorted by relpath.  Carry-forward is
    VECTORIZED — the base version's parquet rows are matched by relpath
    (``pc.index_in``) and taken wholesale (hardlinked file ⇒ same inode
    ⇒ same footer), so only NEW files pay a footer read, and those fan
    out over a thread pool of ``_FOOTER_WORKERS``."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from .manifest import _iter_data_files

    files = dict(_iter_data_files(data_dir))
    rels = sorted(files)
    base_tbl = None
    if base_dir is not None:
        bp = stats_parquet_path(base_dir)
        if os.path.exists(bp) and set(stats_cols_of(base_dir)) == set(cols):
            try:
                base_tbl = pq.read_table(bp)
            except (OSError, ValueError):
                base_tbl = None
    carried_idx: dict[str, int] = {}
    if base_tbl is not None:
        pos = pc.index_in(pa.array(rels, type=pa.string()),
                          base_tbl.column("rel").combine_chunks())
        for i, p in enumerate(pos.to_pylist()):
            if p is not None:
                carried_idx[rels[i]] = p
    new_rels = [r for r in rels if r not in carried_idx]

    # stream footer entries straight into per-column COLUMNAR
    # accumulators — never a per-file dict map: at 10^6 files the
    # entry-dict shape costs GBs of driver RSS; flat value lists cost
    # ~100 MB per statted column and convert to arrow in one pass.
    # ex.map yields results in submission order, so each transient
    # entry dict is freed as soon as its values are appended.
    rows_acc: list = []
    acc = {c: {"lo": [], "hi": [], "nulls": [], "present": []}
           for c in cols}
    if new_rels:
        ex = concurrent.futures.ThreadPoolExecutor(
            max_workers=min(_FOOTER_WORKERS, len(new_rels)))
        try:
            for entry in ex.map(lambda r: _footer_entry(files[r], cols),
                                new_rels):
                rows_acc.append(entry["rows"])
                for c in cols:
                    e = entry["cols"].get(c)
                    a = acc[c]
                    a["lo"].append(None if e is None else e.get("lo"))
                    a["hi"].append(None if e is None else e.get("hi"))
                    a["nulls"].append(None if e is None
                                      else e.get("nulls"))
                    a["present"].append(e is not None)
        finally:
            ex.shutdown(wait=False, cancel_futures=True)

    part_cols = _part_cols_of_rels(rels)
    arrays: dict[str, pa.Array] = {}
    if new_rels:
        arrays["rel"] = pa.array(new_rels, type=pa.string())
        arrays["rows"] = pa.array(rows_acc, type=pa.int64())
        for c in cols:
            a = acc[c]
            lo_arr, hi_arr, _range_ok = _bound_arrays(a["lo"], a["hi"])
            arrays[f"lo:{c}"] = lo_arr
            arrays[f"hi:{c}"] = hi_arr
            arrays[f"nulls:{c}"] = pa.array(a["nulls"], type=pa.int64())
            # ok=True ⇔ the footer produced a USABLE entry (range or
            # all-null); a range that later failed domain unification
            # stays ok=True with null lo/hi ONLY when it was all-null,
            # so degrade those to ok=False via _range_ok
            arrays[f"ok:{c}"] = pa.array(
                [p and (lo is None or rok)
                 for p, lo, rok in zip(a["present"], a["lo"],
                                       _range_ok)],
                type=pa.bool_())
        arrays.update(_part_arrays(new_rels, part_cols))
    new_tbl = pa.table(arrays) if new_rels else None

    pieces = []
    if carried_idx:
        take = pa.array(list(carried_idx.values()), type=pa.int64())
        carried = base_tbl.take(take)
        # align schemas: base may lack part columns new rels introduce
        # (or vice versa) — outer-align on the union, nulls elsewhere
        pieces.append(carried)
    if new_tbl is not None:
        pieces.append(new_tbl)
    if not pieces:
        schema = pa.schema([("rel", pa.string()), ("rows", pa.int64())])
        tbl = pa.table({"rel": pa.array([], type=pa.string()),
                        "rows": pa.array([], type=pa.int64())},
                       schema=schema)
    elif len(pieces) == 1:
        tbl = pieces[0]
    else:
        tbl = _concat_aligned(pieces)
    tbl = tbl.sort_by("rel")
    meta = dict(tbl.schema.metadata or {})
    meta[b"stats_cols"] = json.dumps(list(cols)).encode()
    # the count the writer enumerated — readers cross-check it so a
    # truncated/partial sidecar can never silently DROP data files
    # from results (the rel column is the survivors' source of truth)
    meta[b"file_count"] = str(tbl.num_rows).encode()
    return tbl.replace_schema_metadata(meta)


def _concat_aligned(pieces):
    """Concat tables whose column SETS may differ (schema drift across
    carries): union of columns, nulls where absent, and bound columns
    re-unified when the halves disagree on type (degrades that column
    to null/keep for the divergent half — conservative)."""
    import pyarrow as pa

    names: dict[str, pa.DataType] = {}
    for t in pieces:
        for f in t.schema:
            if f.name not in names:
                names[f.name] = f.type
            elif names[f.name] != f.type and not pa.types.is_null(f.type):
                if pa.types.is_null(names[f.name]):
                    names[f.name] = f.type
                else:
                    names[f.name] = None  # conflict: degrade to null
    out = []
    for t in pieces:
        cols = {}
        for name, typ in names.items():
            if typ is None:
                cols[name] = pa.nulls(len(t), pa.int64())
            elif name in t.column_names:
                col = t.column(name)
                try:
                    cols[name] = col.cast(typ)
                except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
                    cols[name] = pa.nulls(len(t), typ)
            else:
                cols[name] = pa.nulls(len(t), typ)
        out.append(pa.table(cols))
    return pa.concat_tables(out)


def write_stats_parquet(data_dir: str, cols: list[str],
                        base_dir: str | None = None) -> int:
    """Write the version dir's ``_stats.parquet``; returns files covered.
    ``base_dir`` enables carry-forward: the base version's rows are
    reused for hardlinked files when it statted the same column set."""
    import pyarrow.parquet as pq

    tbl = build_stats_table(data_dir, cols, base_dir=base_dir)
    pq.write_table(tbl, stats_parquet_path(data_dir))
    return tbl.num_rows


# ---------------------------------------------------------------------------
# Predicate compilation
# ---------------------------------------------------------------------------

# keep-spec: {"keep_all"} | {"keep_none"} |
#            {"lo_op","lo_val","hi_op","hi_val"} (conjunction; either
#             side may be absent) | {"any": [spec, ...]} (disjunction)
KEEP_ALL = {"keep_all": True}
KEEP_NONE = {"keep_none": True}


def _int_thresholds(op: str, val):
    """Exact-integer thresholds for int64-domain bounds vs a real
    literal — comparisons stay integral (no 2^53 float rounding)."""
    if isinstance(val, bool):
        return KEEP_ALL
    if isinstance(val, float) and (math.isnan(val) or math.isinf(val)):
        return KEEP_ALL
    if isinstance(val, decimal.Decimal) and not val.is_finite():
        return KEEP_ALL
    integral = isinstance(val, int) or \
        (isinstance(val, float) and val.is_integer()) or \
        (isinstance(val, decimal.Decimal) and
         val == val.to_integral_value())
    vi = int(val) if integral else None
    fl, ce = (vi, vi) if integral else \
        (math.floor(val), math.ceil(val))
    lo_int, hi_int = -(1 << 63), (1 << 63) - 1
    if op == "=":
        if not integral:
            return KEEP_NONE  # int-domain bounds ⇒ integer-physical col
        if not (lo_int <= vi <= hi_int):
            return KEEP_NONE
        return {"lo_op": "<=", "lo_val": vi, "hi_op": ">=", "hi_val": vi}
    if op == "!=":
        if not integral or not (lo_int <= vi <= hi_int):
            return KEEP_ALL
        return {"not_point": vi}
    if op == "<":   # keep iff lo < v  ⇔  lo <= (v-1 | floor(v))
        b = vi - 1 if integral else fl
        return KEEP_NONE if b < lo_int else \
            {"lo_op": "<=", "lo_val": min(b, hi_int)}
    if op == "<=":  # keep iff lo <= v ⇔ lo <= floor(v)
        return KEEP_NONE if fl < lo_int else \
            {"lo_op": "<=", "lo_val": min(fl, hi_int)}
    if op == ">":   # keep iff hi > v  ⇔  hi >= (v+1 | ceil(v))
        b = vi + 1 if integral else ce
        return KEEP_NONE if b > hi_int else \
            {"hi_op": ">=", "hi_val": max(b, lo_int)}
    if op == ">=":  # keep iff hi >= v ⇔ hi >= ceil(v)
        return KEEP_NONE if ce > hi_int else \
            {"hi_op": ">=", "hi_val": max(ce, lo_int)}
    return KEEP_ALL


def _float_thresholds(op: str, val):
    """float64-domain thresholds; inexact literal conversions widen
    toward KEEPING (lo-side up, hi-side down) — bounds were widened
    outward at write time, so both sides err toward more files."""
    if isinstance(val, bool):
        return KEEP_ALL
    try:
        f = float(val)
    except (TypeError, ValueError, OverflowError):
        return KEEP_ALL
    if math.isnan(f):
        return KEEP_ALL
    exact = (val == decimal.Decimal(f)) \
        if isinstance(val, decimal.Decimal) else \
        (float(val) == val if isinstance(val, int) else True)
    up = f if exact else math.nextafter(f, math.inf)
    dn = f if exact else math.nextafter(f, -math.inf)
    if op == "=":
        return {"lo_op": "<=", "lo_val": up, "hi_op": ">=", "hi_val": dn}
    if op == "!=":
        return {"not_point": f} if exact else KEEP_ALL
    if op == "<":
        return {"lo_op": "<", "lo_val": up}
    if op == "<=":
        return {"lo_op": "<=", "lo_val": up}
    if op == ">":
        return {"hi_op": ">", "hi_val": dn}
    if op == ">=":
        return {"hi_op": ">=", "hi_val": dn}
    return KEEP_ALL


def _exact_thresholds(op: str, val):
    """Same-domain exact thresholds (string vs str, timestamp vs
    datetime)."""
    if op == "=":
        return {"lo_op": "<=", "lo_val": val, "hi_op": ">=", "hi_val": val}
    if op == "!=":
        return {"not_point": val}
    if op == "<":
        return {"lo_op": "<", "lo_val": val}
    if op == "<=":
        return {"lo_op": "<=", "lo_val": val}
    if op == ">":
        return {"hi_op": ">", "hi_val": val}
    if op == ">=":
        return {"hi_op": ">=", "hi_val": val}
    return KEEP_ALL


def compile_range_spec(dom: str, op: str, val):
    """One (op, literal) compiled against a bound domain ("int",
    "float", "str", "ts") into a keep-spec.  "in"
    becomes a disjunction.  Anything incomparable compiles to KEEP_ALL
    (abstain)."""
    if op == "in":
        specs = [compile_range_spec(dom, "=", v) for v in val]
        if any(s is KEEP_ALL or s.get("keep_all") for s in specs):
            return KEEP_ALL
        specs = [s for s in specs if not s.get("keep_none")]
        if not specs:
            return KEEP_NONE
        return {"any": specs}
    num = (int, float, decimal.Decimal)
    if dom == "int":
        return _int_thresholds(op, val) \
            if isinstance(val, num) and not isinstance(val, bool) \
            else KEEP_ALL
    if dom == "float":
        return _float_thresholds(op, val) \
            if isinstance(val, num) and not isinstance(val, bool) \
            else KEEP_ALL
    if dom == "str":
        return _exact_thresholds(op, val) if isinstance(val, str) \
            else KEEP_ALL
    if dom == "ts":
        try:
            v = _to_datetime(val)
        except (TypeError, ValueError):
            return KEEP_ALL
        return _exact_thresholds(op, v)
    return KEEP_ALL


def _to_datetime(v):
    if isinstance(v, datetime.datetime):
        return v
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day)
    if isinstance(v, str):
        return datetime.datetime.fromisoformat(v)
    raise TypeError(f"not a datetime-comparable value: {v!r}")


def _domain_of_arrow(typ) -> str | None:
    import pyarrow as pa

    if pa.types.is_integer(typ):
        return "int"
    if pa.types.is_floating(typ):
        return "float"
    if pa.types.is_string(typ) or pa.types.is_large_string(typ):
        return "str"
    if pa.types.is_timestamp(typ) or pa.types.is_date(typ):
        return "ts"
    return None


# ---------------------------------------------------------------------------
# Bloom parquet sidecars
# ---------------------------------------------------------------------------

def write_bloom_parquet_table(data_dir: str, col: str, tbl,
                              bits: int, k: int) -> int:
    """One column's per-file filters as ``_bloom-<col>.parquet``: a
    (rel: string, f: fixed_size_binary(nbytes)) table, sorted by rel;
    bits/k ride in the parquet schema metadata.  Fixed-size binary
    keeps the on-disk and in-memory layout one contiguous
    (n_files × nbytes) byte matrix — the probe reads it straight into
    numpy with zero per-file work."""
    import pyarrow.parquet as pq

    nbytes = bits // 8 + (1 if bits % 8 else 0)
    tbl = tbl.sort_by("rel")
    meta = dict(tbl.schema.metadata or {})
    meta[b"bloom"] = json.dumps({"bits": int(bits), "k": int(k),
                                 "nbytes": nbytes}).encode()
    tbl = tbl.replace_schema_metadata(meta)
    pq.write_table(tbl, bloom_parquet_path(data_dir, col))
    return tbl.num_rows


def load_bloom_parquet(data_dir: str, col: str):
    """{"bits", "k", "nbytes", "tbl": pa.Table, "rels": pa.Array,
    "mat": np.ndarray (n_files × nbytes uint8)} or None.  One parquet
    read, no per-file Python: the fixed-size-binary data buffer IS the
    matrix."""
    import numpy as np
    import pyarrow.parquet as pq

    p = bloom_parquet_path(data_dir, col)
    if not os.path.exists(p):
        return None
    try:
        pf = pq.ParquetFile(p)
        meta = json.loads((pf.schema_arrow.metadata or {})[b"bloom"])
        tbl = pf.read().combine_chunks()
        arr = tbl.column("f").combine_chunks()
        nbytes = int(meta["nbytes"])
        if len(arr) == 0 or arr.buffers()[1] is None:
            mat = np.zeros((len(arr), nbytes), dtype=np.uint8)
        else:
            buf = np.frombuffer(arr.buffers()[1], dtype=np.uint8)
            off = arr.offset * nbytes
            mat = buf[off:off + len(arr) * nbytes].reshape(
                len(arr), nbytes)
        return {"bits": int(meta["bits"]), "k": int(meta["k"]),
                "nbytes": nbytes, "tbl": tbl,
                "rels": tbl.column("rel").combine_chunks(), "mat": mat}
    except (OSError, ValueError, KeyError, TypeError):
        return None


def bloom_parquet_specs(data_dir: str) -> dict[str, dict]:
    """{col: {"bits","k"}} from the parquet bloom sidecars' metadata
    headers (no row reads)."""
    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    try:
        names = os.listdir(data_dir)
    except OSError:
        return out
    for f in names:
        if not (f.startswith(_BLOOM_PREFIX)
                and f.endswith(BLOOM_PQ_SUFFIX)):
            continue
        col = urllib.parse.unquote(
            f[len(_BLOOM_PREFIX):-len(BLOOM_PQ_SUFFIX)])
        try:
            meta = json.loads((pq.ParquetFile(os.path.join(data_dir, f))
                               .schema_arrow.metadata or {})[b"bloom"])
            out[col] = {"bits": int(meta["bits"]), "k": int(meta["k"])}
        except (OSError, ValueError, KeyError, TypeError):
            continue
    return out


def _bloom_admit_np(mat, probe_rows) -> "object":
    """(n_files,) bool: does ANY probed literal possibly live in each
    file's filter?  Pure numpy bit tests over the byte matrix."""
    import numpy as np

    admit = np.zeros(mat.shape[0], dtype=bool)
    for pb in probe_rows:
        m = np.ones(mat.shape[0], dtype=bool)
        for b in pb:
            m &= (mat[:, b >> 3] & (1 << (b & 7))) != 0
        admit |= m
    return admit


# ---------------------------------------------------------------------------
# Vectorized pruning (pyarrow/numpy, driver-side)
# ---------------------------------------------------------------------------

def _eval_spec_pc(spec, lo, hi):
    """Evaluate a keep-spec on pyarrow bound arrays → pa bool array with
    null = undecidable (caller keeps)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(lo)
    if spec.get("keep_all"):
        return pa.array([True] * n, type=pa.bool_())
    if spec.get("keep_none"):
        return pa.array([False] * n, type=pa.bool_())
    if "any" in spec:
        out = None
        for s in spec["any"]:
            r = _eval_spec_pc(s, lo, hi)
            out = r if out is None else pc.or_kleene(out, r)
        return out
    if "not_point" in spec:
        v = pa.scalar(spec["not_point"], type=lo.type)
        return pc.invert(pc.and_kleene(pc.equal(lo, v), pc.equal(hi, v)))
    conj = None
    if "lo_op" in spec:
        v = pa.scalar(spec["lo_val"], type=lo.type)
        c = pc.less(lo, v) if spec["lo_op"] == "<" else \
            pc.less_equal(lo, v)
        conj = c
    if "hi_op" in spec:
        v = pa.scalar(spec["hi_val"], type=hi.type)
        c = pc.greater(hi, v) if spec["hi_op"] == ">" else \
            pc.greater_equal(hi, v)
        conj = c if conj is None else pc.and_kleene(conj, c)
    if conj is None:
        return pa.array([True] * n, type=pa.bool_())
    return conj


def _np_bool(pa_arr, fill: bool):
    import pyarrow.compute as pc

    return pc.fill_null(pa_arr, fill).to_numpy(zero_copy_only=False)


def _part_verdict_np(part_arr, op, val):
    """(applicable, keep) numpy bool pairs for one partition column:
    verdicts computed once per DISTINCT path value (dictionary-style),
    then broadcast — O(distinct dirs) Python, O(files) vectorized."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from .manifest import _part_may_match

    uniq = [u for u in pc.unique(part_arr).to_pylist() if u is not None]
    admitted = [u for u in uniq if _part_may_match(
        None if u == "__HIVE_DEFAULT_PARTITION__" else u, op, val)]
    applicable = _np_bool(pc.is_valid(part_arr), False)
    if admitted:
        keep = _np_bool(pc.is_in(
            part_arr, value_set=pa.array(admitted, type=pa.string())),
            False)
    else:
        keep = np.zeros(len(part_arr), dtype=bool)
    return applicable, keep


def _checked_stats_file(data_dir: str):
    """The version's ``_stats.parquet`` as an open ``ParquetFile``, or
    None when it is missing, unreadable or fails the completeness guard.

    The sidecar's rel column is the survivors' SOURCE OF TRUTH (a pruned
    read over it never walks the dir), so an incomplete-but-readable
    sidecar would silently drop data files from results.  Two layered
    checks: the writer's self-declared file_count vs the footer row
    count (torn or cross-version-copied sidecars), and — bounded by
    STATS_CENSUS_VERIFY_MAX, where the walk is cheap — an actual
    _iter_data_files census.  Above the bound the check would re-add
    the O(files) directory walk the columnar path exists to avoid;
    there the write-time invariant (the builder enumerates every file;
    version dirs are immutable after commit) carries, and
    SDF_PRUNE_VERIFY_MAX_FILES can raise the bound for audits."""
    import pyarrow.parquet as pq

    from .manifest import _iter_data_files

    sp = stats_parquet_path(data_dir)
    if not os.path.exists(sp):
        return None
    try:
        pf = pq.ParquetFile(sp)
    except (OSError, ValueError):
        return None
    n_stats = pf.metadata.num_rows
    claimed = (pf.schema_arrow.metadata or {}).get(b"file_count")
    if claimed is not None:
        try:
            if int(claimed) != n_stats:
                return None
        except ValueError:
            return None
    if n_stats <= STATS_CENSUS_VERIFY_MAX and \
            sum(1 for _ in _iter_data_files(data_dir)) != n_stats:
        return None
    return pf


def _census_table(data_dir: str):
    """The stand-in for an unusable stats table: every data file's
    ``rel`` from the directory walk plus its ``part:<col>`` path values.
    It has no ``ok:``/``lo:`` columns, so stats verdicts abstain (keep)
    while partition and bloom verdicts run unchanged."""
    import pyarrow as pa

    from .manifest import _iter_data_files

    rels = sorted(r for r, _p in _iter_data_files(data_dir))
    arrays = {"rel": pa.array(rels, type=pa.string())}
    arrays.update(_part_arrays(rels, _part_cols_of_rels(rels)))
    return pa.table(arrays)


def prune_with_stats_parquet(data_dir: str, where: list[tuple],
                             bloom_bits_fn):
    """File-level pruning against ``_stats.parquet`` (+ parquet bloom
    sidecars); returns (surviving relpaths, total file count).  A
    version whose stats sidecar is missing or fails
    ``_checked_stats_file`` prunes over ``_census_table`` instead: every
    file is listed, stats keep it, partition and bloom verdicts decide.
    ``bloom_bits_fn(col, vals, bits, k)`` maps literals to probe bit
    rows under the build's exact hash (or None to abstain).

    Cost is one column-projected parquet read plus vectorized kernels —
    no per-file Python, and nothing is written."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    pf = _checked_stats_file(data_dir)

    # ONE bloom sidecar load per column but ONE probe row-set PER
    # PREDICATE OCCURRENCE: two =/in predicates on the same column each
    # test their own literals (the conjunction is the intersection of
    # admits)
    blooms: dict[str, dict] = {}
    for i, (col, op, val) in enumerate(where):
        if op not in ("=", "in"):
            continue
        if col not in blooms:
            b = load_bloom_parquet(data_dir, col)
            if b is not None:
                b["probes"] = {}
            blooms[col] = b
        b = blooms[col]
        if b is not None:
            vals = val if op == "in" else [val]
            b["probes"][i] = bloom_bits_fn(col, list(vals),
                                           b["bits"], b["k"])
    blooms = {c: b for c, b in blooms.items() if b is not None}

    tbl = None
    if pf is not None:
        names = set(pf.schema_arrow.names)
        need = {"rel"}
        for col, op, _val in where:
            if f"part:{col}" in names:
                need.add(f"part:{col}")
            if f"lo:{col}" in names:
                need.update((f"lo:{col}", f"hi:{col}",
                             f"nulls:{col}", f"ok:{col}", "rows"))
        try:
            tbl = pf.read(columns=sorted(need & names))
        except (OSError, ValueError):
            tbl = None
    if tbl is None:
        tbl = _census_table(data_dir)
    n = tbl.num_rows
    rels = tbl.column("rel").combine_chunks()
    keep = np.ones(n, dtype=bool)
    rows_np = None
    if "rows" in tbl.column_names:
        rows_np = tbl.column("rows").combine_chunks()

    for i, (col, op, val) in enumerate(where):
        # --- stats verdict (abstains to True) -------------------------
        stats_keep = np.ones(n, dtype=bool)
        if f"ok:{col}" in tbl.column_names:
            try:
                stats_keep = _stats_verdict_np(tbl, col, op, val, rows_np)
            except Exception:
                stats_keep = np.ones(n, dtype=bool)  # abstain on any
        # --- bloom verdict (abstains to True) -------------------------
        bloom_keep = np.ones(n, dtype=bool)
        if op in ("=", "in") and col in blooms:
            b = blooms[col]
            probe = b["probes"].get(i)
            if probe is not None:
                try:
                    admit = _bloom_admit_np(b["mat"], probe)
                    idx = pc.fill_null(
                        pc.index_in(rels, value_set=b["rels"]),
                        -1).to_numpy(zero_copy_only=False)
                    has = idx >= 0  # missing filter ⇒ abstain (keep)
                    bloom_keep = np.where(
                        has, admit[np.where(has, idx, 0)], True)
                except Exception:
                    bloom_keep = np.ones(n, dtype=bool)
        # --- partition verdict supersedes both where applicable -------
        if f"part:{col}" in tbl.column_names:
            try:
                applicable, pkeep = _part_verdict_np(
                    tbl.column(f"part:{col}").combine_chunks(), op, val)
                pred = np.where(applicable, pkeep,
                                stats_keep & bloom_keep)
            except Exception:
                pred = stats_keep & bloom_keep
        else:
            pred = stats_keep & bloom_keep
        keep &= pred

    survivors = pc.filter(rels, pa.array(keep)).to_pylist()
    return survivors, n


def _stats_verdict_np(tbl, col: str, op: str, val, rows_np):
    """Vectorized per-file keep verdict from min/max/null-count columns.
    Every supported op is null-rejecting (SQL 3VL) except the null
    tests, so a provably all-null file prunes, and min/max (which
    exclude nulls, per the parquet spec) prune safely even when nulls
    exist; an ``isnull`` probe prunes only provably null-free files."""
    import numpy as np
    import pyarrow.compute as pc

    n = tbl.num_rows
    ok = _np_bool(tbl.column(f"ok:{col}").combine_chunks(), False)
    nulls = tbl.column(f"nulls:{col}").combine_chunks()
    if op == "isnull":
        # prune only files PROVABLY null-free: nulls == 0
        nullfree = _np_bool(pc.equal(nulls, 0), False)
        return ~(ok & nullfree)
    allnull = np.zeros(n, dtype=bool)
    if rows_np is not None:
        allnull = _np_bool(pc.greater_equal(nulls, rows_np), False)
    if op == "isnotnull":
        return ~(ok & allnull)
    lo = tbl.column(f"lo:{col}").combine_chunks()
    hi = tbl.column(f"hi:{col}").combine_chunks()
    dom = _domain_of_arrow(lo.type)
    has_range = _np_bool(pc.is_valid(lo), False)
    if dom is None:
        range_keep = np.ones(n, dtype=bool)
    else:
        spec = compile_range_spec(dom, op, val)
        range_keep = _np_bool(_eval_spec_pc(spec, lo, hi), True)
    # ok & no range ⇒ all-null column: null-rejecting ops prune iff
    # provably all-null; ok & range ⇒ the range decides; ¬ok ⇒ keep
    return ~ok | np.where(has_range, range_keep, ~allnull)

"""Columnar per-file statistics: the data-skipping format of the
manifest tables.  A real table format keeps per-file stats as PARQUET
(Delta's checkpoint) and evaluates skipping verdicts columnar, never with
a per-file Python loop; so do these sidecars:

- ``_stats.parquet`` (one per immutable version dir): one ROW per data
  file, with typed columns ``lo:<col>``/``hi:<col>``/``nulls:<col>``/
  ``ok:<col>`` per statted column, ``part:<col>`` per Hive partition
  segment, plus ``rel``/``rows``.  Written columnar (footer reads fan out
  over a thread pool), carried forward across versions by vectorized
  relpath alignment (``pc.index_in`` + ``Table.take`` — no per-file
  Python), so a commit still stats only its NEW files.
- ``_bloom-<col>.parquet`` per bloom-indexed column: ``rel`` + a
  fixed-size-binary filter per file (bits/k in the parquet file
  metadata).  Filters are PACKED EXECUTOR-SIDE (a vectorized pandas UDF
  turns each file's distinct bit list into bytes), so the driver's cost
  is one Arrow batch of (rel, bytes) — no per-(file, bit) Python.
- Reads load ONLY the probed columns (parquet column projection) and
  evaluate every file's verdict VECTORIZED: range checks as
  pyarrow.compute kernels, partition checks per *distinct* partition
  value (dictionary-encode, then O(distinct) Python), bloom probes as a
  numpy bit-test over an (n_files, nbytes) uint8 matrix.
- Past ``SDF_PRUNE_DRIVER_MAX_BYTES`` (default 128 MB of stats parquet)
  the verdict moves INTO SPARK: the stats table is read as a DataFrame,
  the same compiled predicate runs as a Column filter, and only the
  SURVIVING relpaths ever reach the driver — flat driver RSS at any file
  count, the shape Delta uses for multi-TB checkpoint logs.

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

Literals are compiled ONCE into engine-agnostic keep-specs
(:func:`compile_range_spec`) shared by the pyarrow and Spark evaluators:
exact integer comparisons stay integral (no float64 rounding at 2^53 —
the bug class a ``cast("double")`` would reintroduce), and inexact
conversions WIDEN toward keeping the file (``math.nextafter``), mirroring
the write side, which widens Decimal/huge-int bounds outward when they
don't convert to float64 exactly.

Reference parity note: the reference engine (``/root/reference`` —
src/main.rs) delegates scans to DataFusion, which prunes parquet via
row-group statistics inside the engine; this module plays that role for
the manifest tables, at file granularity, Spark-first.
"""

from __future__ import annotations

import datetime
import decimal
import json
import math
import os
import urllib.parse

STATS_PARQUET = "_stats.parquet"
BLOOM_PQ_SUFFIX = ".parquet"
_BLOOM_PREFIX = "_bloom-"

# stats-parquet size (bytes) past which the file-verdict evaluation
# escalates from driver-side pyarrow kernels to a Spark DataFrame filter
# (only survivors reach the driver).  Overridable per-process for tests
# and for clusters whose drivers are tighter/looser on memory.
PRUNE_DRIVER_MAX_BYTES = int(
    os.environ.get("SDF_PRUNE_DRIVER_MAX_BYTES", 128 << 20))

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


def bloom_foldable_type(typ) -> bool:
    """Arrow types whose Spark ``cast("string")`` canonicalization is
    replicable exactly in Python — the precondition for folding a
    column's bloom build into the footer pass (``_footer_entry``).
    Integers, strings, booleans and dates round-trip; floats, decimals
    and timestamps keep the JVM build (Spark's float→string formatting
    is not worth re-implementing bug-for-bug)."""
    import pyarrow as pa

    return (pa.types.is_integer(typ) or pa.types.is_string(typ)
            or pa.types.is_large_string(typ) or pa.types.is_boolean(typ)
            or pa.types.is_date32(typ))


def _bloom_canon(v) -> str:
    """One value's Spark cast-to-string canonical form (restricted to
    the ``bloom_foldable_type`` domain)."""
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)  # int → decimal digits; str → itself; date → ISO


def _file_bloom_bytes(pf, path: str, spec: dict) -> dict:
    """Per-column packed bloom filter bytes for ONE file, hashed with
    the bit-exact Spark xxhash64 replica (``sources/xxhash64.py``), so
    the output is byte-identical to the JVM build in
    ``manifest._write_bloom_cols`` and probes (which hash literals
    through a Spark job) keep their no-false-negative contract.  A file
    missing the column (schema drift) gets an all-zero filter — the
    JVM build's union-schema scan produces the same, and pruning it for
    any equality is correct (absent column reads as NULL).  NULL values
    contribute no bits (the JVM build explodes only isNotNull)."""
    import numpy as np
    import pyarrow.compute as pc

    from .xxhash64 import spark_xxhash64_str

    out = {}
    names = set(pf.schema_arrow.names)
    want = [c for c in spec if c in names
            and bloom_foldable_type(pf.schema_arrow.field(c).type)]
    data = pf.read(columns=want) if want else None
    for col, s in spec.items():
        bits, k = int(s["bits"]), int(s["k"])
        nbytes = bits // 8 + (1 if bits % 8 else 0)
        buf = np.zeros(nbytes, dtype=np.uint8)
        if col in names and col not in want:
            continue  # unfoldable type in this file: abstain (no row)
        if data is not None and col in data.column_names:
            vals = pc.unique(data.column(col).combine_chunks())
            for v in vals.to_pylist():
                if v is None:
                    continue
                s_canon = _bloom_canon(v)
                for i in range(k):
                    b = spark_xxhash64_str(s_canon, i) % bits
                    buf[b >> 3] |= 1 << (b & 7)
        out[col] = buf.tobytes()
    return out


def _footer_entry(path: str, cols: list[str],
                  bloom_spec: dict | None = None) -> dict:
    """One file's stats from its parquet FOOTER (row-group statistics
    aggregated; row data never read).  Returns {"rows": n, "cols":
    {col: None | {"lo","hi","nulls"} | {"nulls"}}}, which
    ``build_stats_table`` accumulates column by column.  With
    ``bloom_spec``
    ({col: {"bits","k"}}) the SAME file open also reads the spec'd
    columns and packs their bloom filter bytes into a ``"bloom"`` key —
    the one-pass stats+bloom build (VERDICT r13 item 3: blooms were a
    second full scan of every file)."""
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
    out = {"rows": md.num_rows, "cols": entry}
    if bloom_spec:
        out["bloom"] = _file_bloom_bytes(pf, path, bloom_spec)
    return out


def _usable_bound(v) -> bool:
    """Bounds with a usable ordering for pruning (bool/bytes/None carry
    none — same domain rules as ``manifest._stat_encode``)."""
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


# new-file count past which footer scanning fans out over Spark
# executors instead of a driver thread pool (the Delta shape: stats are
# computed where the data lives).  Overridable for tests/clusters.
STATS_SPARK_MIN_FILES = int(
    os.environ.get("SDF_STATS_SPARK_MIN_FILES", 20000))


def _footer_entries_spark(spark, files: dict, need: list[str],
                          cols: list[str],
                          bloom_spec: dict | None = None):
    """Footer entries for ``need`` (sorted relpaths) computed EXECUTOR-
    SIDE: the (rel, path) list ships as one Arrow frame, a mapInPandas
    pass reads each footer where a worker sits, entries come back
    _stat_encode-coded and ORDERED BY rel, and the caller streams them
    through toLocalIterator — the driver never holds more than a batch.
    At 10^6 tiny files this turns ~8 min of driver-sequenced footer
    reads into a ~32-way parallel scan.  ``bloom_spec`` rides into
    ``_footer_entry`` so the same pass also packs bloom bytes
    (b64-coded through the Arrow frame)."""
    import base64 as _b64
    import json as _json

    import pandas as pd

    from .manifest import _stat_decode

    pdf = pd.DataFrame({"rel": need, "path": [files[r] for r in need]})
    parts = max(1, min(spark.sparkContext.defaultParallelism * 2,
                       len(need)))
    df = spark.createDataFrame(pdf).repartition(parts)
    cols_list = list(cols)
    spec = None if not bloom_spec else {
        c: {"bits": int(s["bits"]), "k": int(s["k"])}
        for c, s in bloom_spec.items()}

    def _scan(batches):
        from steel_datafusion_spark.sources.manifest import _stat_encode

        for b in batches:
            out = []
            for path in b["path"]:
                e = _footer_entry(path, cols_list, bloom_spec=spec)
                enc = {
                    "rows": e["rows"],
                    "cols": {c: (None if v is None else {
                        k: (_stat_encode(x) if k in ("lo", "hi") else x)
                        for k, x in v.items()})
                        for c, v in e["cols"].items()}}
                if "bloom" in e:
                    enc["bloom"] = {
                        c: _b64.b64encode(v).decode("ascii")
                        for c, v in e["bloom"].items()}
                out.append(_json.dumps(enc))
            yield pd.DataFrame({"rel": b["rel"], "e": out})

    res = df.mapInPandas(_scan, "rel string, e string").orderBy("rel")
    for row in res.toLocalIterator():
        enc = _json.loads(row["e"])
        out = {"rows": enc["rows"],
               "cols": {c: (None if v is None else {
                   k: (_stat_decode(x) if k in ("lo", "hi") else x)
                   for k, x in v.items()})
                   for c, v in enc["cols"].items()}}
        if "bloom" in enc:
            out["bloom"] = {c: _b64.b64decode(v)
                            for c, v in enc["bloom"].items()}
        yield out


def build_stats_table(data_dir: str, cols: list[str],
                      base_dir: str | None = None,
                      max_workers: int = 16,
                      bloom_spec: dict | None = None):
    """The version's ``_stats.parquet`` as an in-memory pyarrow Table:
    one row per data file, sorted by relpath.  Carry-forward is
    VECTORIZED — the base version's parquet rows are matched by relpath
    (``pc.index_in``) and taken wholesale (hardlinked file ⇒ same inode
    ⇒ same footer), so only NEW files pay a footer read, and those fan
    out over a thread pool (pyarrow releases the GIL around I/O).

    With ``bloom_spec`` ({col: {"bits","k"}}) the SAME pass — same file
    opens, same thread pool or executor fan-out — also packs per-file
    bloom filter bytes (VERDICT r13 item 3: the bloom build was a
    SECOND full scan; at 10^6 tiny files the file opens dominate, so
    one pass ≈ half the wall).  Returns (stats_table,
    {col: bloom_table}) in that mode: bloom rows cover carried files
    (bytes reused from the base sidecar when its bits/k match) plus
    every file this pass opened; a rel carried for stats but absent
    from the base bloom simply has no row (probes abstain → keep —
    never wrong, ``write_table_bloom`` backfills full coverage)."""
    import concurrent.futures

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
    bl_acc: dict[str, list] = {c: [] for c in (bloom_spec or {})}

    def _consume(entry: dict) -> None:
        rows_acc.append(entry.get("rows"))
        ecols = entry.get("cols") or {}
        for c in cols:
            e = ecols.get(c)
            a = acc[c]
            if e is None:
                a["lo"].append(None)
                a["hi"].append(None)
                a["nulls"].append(None)
                a["present"].append(False)
            else:
                a["lo"].append(e.get("lo"))
                a["hi"].append(e.get("hi"))
                a["nulls"].append(e.get("nulls"))
                a["present"].append(True)
        eb = entry.get("bloom") or {}
        for c in bl_acc:
            bl_acc[c].append(eb.get(c))  # None = abstain row

    if new_rels:
        ex = None
        spark = None
        if len(new_rels) >= STATS_SPARK_MIN_FILES:
            try:
                from pyspark.sql import SparkSession

                spark = SparkSession.getActiveSession()
            except Exception:
                spark = None
        if spark is not None:
            # executor-parallel footer scan, streamed back in rel
            # order (new_rels is sorted) — the driver holds one Arrow
            # batch at a time
            footer_iter = _footer_entries_spark(
                spark, files, new_rels, cols, bloom_spec=bloom_spec)
        else:
            ex = concurrent.futures.ThreadPoolExecutor(
                max_workers=min(max_workers, len(new_rels)))
            footer_iter = ex.map(
                lambda r: _footer_entry(files[r], cols,
                                        bloom_spec=bloom_spec),
                new_rels)
        try:
            for entry in footer_iter:
                _consume(entry)
        finally:
            if ex is not None:
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
    tbl = tbl.replace_schema_metadata(meta)
    if not bloom_spec:
        return tbl

    blooms: dict[str, "pa.Table"] = {}
    rels_now = pa.array(rels, type=pa.string())
    for col, s in bloom_spec.items():
        bits, k = int(s["bits"]), int(s["k"])
        nbytes = bits // 8 + (1 if bits % 8 else 0)
        comp_rels = [r for r, bb in zip(new_rels, bl_acc[col])
                     if bb is not None]
        comp = pa.table({
            "rel": pa.array(comp_rels, type=pa.string()),
            "f": pa.array([bb for bb in bl_acc[col] if bb is not None],
                          type=pa.binary(nbytes))})
        pieces = [comp]
        if base_dir is not None:
            b = load_bloom_parquet(base_dir, col)
            if b is not None and b["bits"] == bits and b["k"] == k:
                # vectorized carry: base rows still live in this
                # version and not freshly computed (same inode ⇒ same
                # bytes either way; computed wins arbitrarily)
                mask = pc.is_in(b["rels"], value_set=rels_now)
                if comp_rels:
                    mask = pc.and_(mask, pc.invert(pc.is_in(
                        b["rels"],
                        value_set=pa.array(comp_rels,
                                           type=pa.string()))))
                carried = b["tbl"].select(["rel", "f"]).filter(mask)
                if carried.num_rows:
                    pieces.append(pa.table({
                        "rel": carried.column("rel"),
                        "f": carried.column("f").cast(
                            pa.binary(nbytes))}))
        blooms[col] = (pa.concat_tables(pieces) if len(pieces) > 1
                       else pieces[0]).sort_by("rel")
    return tbl, blooms


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


def write_stats_and_bloom_parquet(
        data_dir: str, stats_cols: list[str], bloom_spec: dict,
        base_dir: str | None = None) -> tuple[int, dict]:
    """Write ``_stats.parquet`` AND the per-column bloom sidecars from
    ONE pass over the data files (``build_stats_table(bloom_spec=…)``)
    — the bloom build used to be a second full scan, which at 10^6
    tiny files doubles the wall for no reason (file opens dominate,
    and the bloom columns' bytes are a rounding error next to the
    open+footer cost).  Returns (files_covered,
    {col: bloom_rows_written})."""
    import pyarrow.parquet as pq

    if not bloom_spec:
        # empty spec (e.g. every requested column unfoldable): plain
        # stats build — build_stats_table returns a bare table then
        return write_stats_parquet(data_dir, stats_cols,
                                   base_dir=base_dir), {}
    tbl, blooms = build_stats_table(data_dir, stats_cols,
                                    base_dir=base_dir,
                                    bloom_spec=bloom_spec)
    pq.write_table(tbl, stats_parquet_path(data_dir))
    counts = {}
    for col, bt in blooms.items():
        s = bloom_spec[col]
        counts[col] = write_bloom_parquet_table(
            data_dir, col, bt, int(s["bits"]), int(s["k"]))
    return tbl.num_rows, counts


# ---------------------------------------------------------------------------
# Predicate compilation (shared by the pyarrow and Spark evaluators)
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
    "float", "str", "ts") into an engine-agnostic keep-spec.  "in"
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

def _domain_of_spark(dt) -> str | None:
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
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


def _bloom_header(data_dir: str, col: str) -> dict | None:
    """bits/k of one column's parquet bloom sidecar from the footer
    metadata alone — no filter bytes load (the Spark-escalation path
    keeps the byte matrix executor-side)."""
    import pyarrow.parquet as pq

    p = bloom_parquet_path(data_dir, col)
    if not os.path.exists(p):
        return None
    try:
        meta = json.loads((pq.ParquetFile(p).schema_arrow.metadata
                           or {})[b"bloom"])
        return {"bits": int(meta["bits"]), "k": int(meta["k"]),
                "nbytes": int(meta["nbytes"])}
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
# Vectorized pruning (pyarrow driver-side; Spark escalation above the
# PRUNE_DRIVER_MAX_BYTES threshold)
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


def prune_with_stats_parquet(spark, data_dir: str, where: list[tuple],
                             bloom_bits_fn):
    """File-level pruning against ``_stats.parquet`` (+ parquet bloom
    sidecars); returns (surviving relpaths, total file count).  A
    version whose stats sidecar is missing or fails
    ``_checked_stats_file`` prunes over ``_census_table`` instead: every
    file is listed, stats keep it, partition and bloom verdicts decide.
    ``bloom_bits_fn(col, vals, bits, k)`` maps literals to probe bit
    rows under the build's exact hash (or None to abstain).

    Driver cost is one column-projected parquet read plus vectorized
    kernels — no per-file Python.  When the stats file exceeds
    ``PRUNE_DRIVER_MAX_BYTES``, the identical compiled predicate runs
    as a Spark DataFrame filter over the stats table instead and only
    the SURVIVORS' relpaths return to the driver."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    sp = stats_parquet_path(data_dir)
    pf = _checked_stats_file(data_dir)
    spark_mode = False
    if pf is not None:
        try:
            spark_mode = os.path.getsize(sp) > PRUNE_DRIVER_MAX_BYTES
        except OSError:
            spark_mode = False

    # resolve bloom sidecars for =/in predicates up front (shared by
    # both evaluation engines).  In Spark mode only the HEADER (bits/k)
    # loads driver-side — the filter bytes stay executor-side; the
    # driver path loads the full byte matrix for the numpy probe.
    # ONE sidecar load per column but ONE probe row-set PER PREDICATE
    # OCCURRENCE: two =/in predicates on the same column each test
    # their own literals (the conjunction is the intersection of
    # admits) — reusing the first predicate's probe was conservative
    # driver-side but joined the sidecar twice with a colliding column
    # name in Spark mode (ADVICE r13).
    blooms: dict[str, dict] = {}
    for i, (col, op, val) in enumerate(where):
        if op not in ("=", "in"):
            continue
        if col not in blooms:
            b = _bloom_header(data_dir, col) if spark_mode \
                else load_bloom_parquet(data_dir, col)
            if b is not None:
                b["probes"] = {}
            blooms[col] = b
        b = blooms[col]
        if b is not None:
            vals = val if op == "in" else [val]
            b["probes"][i] = bloom_bits_fn(col, list(vals),
                                           b["bits"], b["k"])
    blooms = {c: b for c, b in blooms.items() if b is not None}

    if spark_mode:
        return _prune_spark(spark, sp, data_dir, where,
                            set(pf.schema_arrow.names), blooms)

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


def _prune_spark(spark, sp_path: str, data_dir: str, where: list[tuple],
                 names: set, blooms: dict):
    """The same compiled verdict as a Spark DataFrame filter over the
    stats table — the shape for 10^6-10^7-file tables: the driver never
    materializes per-file anything; only surviving relpaths collect.
    Bloom verdicts join the bloom parquet on rel and bit-test inside a
    vectorized pandas UDF."""
    import shutil
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from .manifest import _part_may_match

    # Spark's file index hides ``_``-prefixed files, so expose the stats
    # parquet through a clean-named hardlink in a hidden scratch dir
    # (same filesystem ⇒ zero copy; cleaned up after the survivors
    # collect below fully consumes the plan)
    scratch = os.path.join(os.path.dirname(sp_path),
                           f".prune-{uuid.uuid4().hex[:8]}")
    os.makedirs(scratch, exist_ok=True)

    def _expose(src: str, name: str) -> str:
        dst = os.path.join(scratch, name)
        try:
            os.link(src, dst)
        except OSError:
            shutil.copy2(src, dst)
        return dst

    link = _expose(sp_path, "stats.parquet")
    bloom_links = {
        col: _expose(bloom_parquet_path(data_dir, col),
                     f"bloom-{i}.parquet")
        for i, col in enumerate(blooms)
        if any(p is not None for p in blooms[col]["probes"].values())}
    try:
        return _prune_spark_inner(spark, link, bloom_links, where,
                                  names, blooms, _part_may_match, F)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _prune_spark_inner(spark, sp_path, bloom_links, where, names,
                       blooms, _part_may_match, F):
    df = spark.read.parquet(sp_path)
    total = df.count()
    keep = F.lit(True)
    joined: set = set()  # bloom sidecar joins ONCE per column
    for i, (col, op, val) in enumerate(where):
        stats_c = F.lit(True)
        if f"ok:{col}" in names:
            stats_c = _stats_verdict_col(df, col, op, val)
        bloom_c = F.lit(True)
        if op in ("=", "in") and col in bloom_links:
            probe = blooms[col]["probes"].get(i)
            if probe is not None:
                if col not in joined:
                    df = _bloom_join_col(spark, df, bloom_links[col],
                                         col)
                    joined.add(col)
                bloom_c = _bloom_admit_col(df, col, probe)
        pred = stats_c & bloom_c
        if f"part:{col}" in names:
            pv = df[f"part:{col}"]
            uniq = [r[0] for r in df.select(pv).distinct().collect()
                    if r[0] is not None]
            admitted = [u for u in uniq if _part_may_match(
                None if u == "__HIVE_DEFAULT_PARTITION__" else u,
                op, val)]
            pcol = pv.isin(admitted) if admitted else F.lit(False)
            pred = F.when(pv.isNotNull(), pcol).otherwise(pred)
        keep = keep & pred
    survivors = [r[0] for r in
                 df.filter(keep).select("rel").toLocalIterator()]
    return survivors, total


def _stats_verdict_col(df, col: str, op: str, val):
    """Spark Column mirror of ``_stats_verdict_np``."""
    from pyspark.sql import functions as F

    ok = F.coalesce(df[f"ok:{col}"], F.lit(False))
    nulls = df[f"nulls:{col}"]
    if op == "isnull":
        nullfree = F.coalesce(nulls == 0, F.lit(False))
        return ~(ok & nullfree)
    allnull = F.coalesce(nulls >= df["rows"], F.lit(False)) \
        if "rows" in df.columns else F.lit(False)
    if op == "isnotnull":
        return ~(ok & allnull)
    lo, hi = df[f"lo:{col}"], df[f"hi:{col}"]
    dom = _domain_of_spark(df.schema[f"lo:{col}"].dataType)
    if dom is None:
        range_keep = F.lit(True)
    else:
        spec = compile_range_spec(dom, op, val)
        range_keep = _eval_spec_col(spec, lo, hi)
    return ~ok | F.when(lo.isNotNull(),
                        F.coalesce(range_keep, F.lit(True))) \
                  .otherwise(~allnull)


def _eval_spec_col(spec, lo, hi):
    from pyspark.sql import functions as F

    if spec.get("keep_all"):
        return F.lit(True)
    if spec.get("keep_none"):
        return F.lit(False)
    if "any" in spec:
        out = None
        for s in spec["any"]:
            r = _eval_spec_col(s, lo, hi)
            out = r if out is None else (out | r)
        return out
    if "not_point" in spec:
        v = F.lit(spec["not_point"])
        return ~((lo == v) & (hi == v))
    conj = None
    if "lo_op" in spec:
        v = F.lit(spec["lo_val"])
        c = (lo < v) if spec["lo_op"] == "<" else (lo <= v)
        conj = c
    if "hi_op" in spec:
        v = F.lit(spec["hi_val"])
        c = (hi > v) if spec["hi_op"] == ">" else (hi >= v)
        conj = c if conj is None else (conj & c)
    return F.lit(True) if conj is None else conj


# bloom sidecar size (bytes) up to which the escalation-mode join
# BROADCASTS the filter table; past it (10^7 files × wide filters —
# exactly the regime escalation mode exists for) a broadcast would ship
# GBs to every executor and pin them on the driver, so the join falls
# back to a shuffle/sort-merge on rel (both sides are large there).
BLOOM_BROADCAST_MAX_BYTES = int(
    os.environ.get("SDF_BLOOM_BROADCAST_MAX_BYTES", 64 << 20))


def _bloom_join_col(spark, df, bloom_path: str, col: str):
    """Left-join one column's bloom parquet onto the stats frame as
    ``__bloom:<col>`` — done ONCE per column even when several
    predicates probe it (each predicate then bit-tests its own
    literals against the shared filter column).  Small sidecars
    broadcast; past ``BLOOM_BROADCAST_MAX_BYTES`` the join shuffles on
    rel instead (see the constant's comment)."""
    from pyspark.sql import functions as F

    bcol = f"__bloom:{col}"
    bdf = (spark.read.parquet(bloom_path)
           .withColumnRenamed("f", bcol)
           .withColumnRenamed("rel", "__bloomrel"))
    try:
        small = os.path.getsize(bloom_path) <= BLOOM_BROADCAST_MAX_BYTES
    except OSError:
        small = True
    if small:
        bdf = F.broadcast(bdf)
    return df.join(bdf, df["rel"] == bdf["__bloomrel"], "left") \
             .drop("__bloomrel")


def _bloom_admit_col(df, col: str, probe):
    """Admit Column for one predicate's probe rows: bit-test the joined
    filter bytes in an Arrow-batched pandas UDF (missing filter ⇒
    abstain/keep)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    def _admit(fb):
        out = []
        for buf in fb:
            if buf is None:
                out.append(True)  # abstain
                continue
            hit = False
            for pb in probe:
                if all(buf[b >> 3] & (1 << (b & 7)) for b in pb):
                    hit = True
                    break
            out.append(hit)
        return pd.Series(out)

    # real annotation objects: PEP-563 string hints don't resolve in
    # pandas_udf's type inference under `from __future__ import ...`
    _admit.__annotations__ = {"fb": pd.Series, "return": pd.Series}
    _admit = pandas_udf(_admit, "boolean")
    return F.coalesce(_admit(df[f"__bloom:{col}"]), F.lit(True))

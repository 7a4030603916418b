"""The one lifecycle of the persisted index tables.

The dedup index (``pipeline/dedup.py``) and the ANN index
(``pipeline/similarity.py``) keep their state in managed, mostly
bucketed catalog tables named ``{name}_{t}``.  Spark's catalog has no
commit log (unlike the manifest roots of ``sources/manifest.py``), so a
table is replaced by a swap, and a crash can stop a swap half-way.

**Layout is decided once, at build**: ``build_*`` chooses each table's
bucket columns, bucket count and sort columns (or none), and every later
write — :func:`swap_table`, :func:`append_rows`, :func:`absorb_delta` —
reads it back from the table's catalog entry.

Three rules keep every index table recoverable, for both indexes:

1. **Write with** :func:`swap_table`.  The new rows go to
   ``{table}_swap``, then the base table is dropped, then the swap is
   renamed.  A swap whose base directory is gone is therefore complete;
   a swap beside its base is an unfinished write that the next swap
   discards.  The drop (``bucketing.drop_managed_table``) renames the
   base directory aside to a hidden sibling before deleting it, so a
   crash never leaves a partial base that could pass for an intact one.
2. **Repair only under the lock or in** :func:`attach_index`.
   :func:`recover_swaps` deletes hidden siblings a crashed drop left
   behind and turns a complete swap back into its base table (directory
   rename, then refresh or ``attach_table``).  It runs at the start of
   every :func:`locked_verb` and in :func:`attach_index`, never on a
   read path.
3. **A reader resolves a missing table to its swap.**
   :func:`index_table` reads ``{table}_swap`` when ``{table}``'s
   directory is gone and writes nothing, so a probe can never race a
   maintainer; :func:`with_delta` adds a streaming delta's committed rows
   to that read.

:func:`reset_index` is the build prologue, and :func:`reset_delta` is
the empty commit that resets a streaming delta root after compaction.
"""

from __future__ import annotations

import os
import re
import shutil

from .bucketing import (
    _aside_path, _warehouse_path, attach_table, drop_managed_table,
    write_bucketed,
)
from .locking import IndexLock, _txn_root, log_index_txn
from .manifest import (
    _commit, _read_version, _require_base, _Written, is_manifest_root,
    read_table,
)

__all__ = ["reset_index", "locked_verb", "swap_table", "append_rows",
           "absorb_delta", "attach_index", "recover_swaps", "index_table",
           "with_delta", "reset_delta"]

_SWAP = "_swap"
# "_cswap" is the dedup compaction swap name of older builds; a swap it
# left behind is still recovered
_SWAPS = (_SWAP, "_cswap")


def reset_index(spark, name: str, tables) -> None:
    """Build prologue: drop every ``{name}_{t}`` table, its swap tables
    and the index's txn log, so a rebuild under an old name starts from
    nothing — no swap of the old index can later be restored over the
    new one, and the new txn log starts at 1.  The ``__idxlock`` file
    is left alone: it belongs to whichever maintainer holds it."""
    for t in tables:
        for suffix in ("",) + _SWAPS:
            drop_managed_table(spark, f"{name}_{t}{suffix}")
    shutil.rmtree(_txn_root(spark, name), ignore_errors=True)


def locked_verb(spark, name: str, tables, verb: str, body) -> dict:
    """Run one maintenance verb: take the index lock, finish any crashed
    swap, refresh the tables' file listings (the lock serializes
    writers, but each session caches listings, so the last holder's
    writes would be invisible), run ``body()``, and log its result dict
    as the verb's txn record.  Returns that dict with ``"txn"`` added."""
    with IndexLock(spark, name) as lk:
        recover_swaps(spark, name, tables)
        for t in tables:
            if spark.catalog.tableExists(f"{name}_{t}"):
                spark.catalog.refreshTable(f"{name}_{t}")
        out = body()
        out["txn"] = log_index_txn(spark, name, {"verb": verb, **out},
                                   lock=lk)
    return out


def _layout(spark, table: str, bucketed: bool = False):
    """``(bucket_cols, n_buckets, sort_cols)`` of ``table`` from its
    catalog entry; None for an unbucketed table, which raises
    ``ValueError`` when ``bucketed``."""
    info, detail = {}, False
    for r in spark.sql(f"DESCRIBE EXTENDED `{table}`").collect():
        detail = detail or r.col_name == "# Detailed Table Information"
        if detail:
            info[r.col_name] = r.data_type
    if "Num Buckets" not in info:
        if bucketed:
            raise ValueError(f"{table!r} is not a bucketed table")
        return None

    def names(key):  # "[`a`, `b`]"
        return [n.replace("``", "`") for n in
                re.findall(r"`((?:[^`]|``)*)`", info.get(key) or "")]
    return (names("Bucket Columns"), int(info["Num Buckets"]),
            names("Sort Columns"))


def _save(df, table: str, layout, mode: str = "errorifexists") -> None:
    if layout is None:
        df.write.mode(mode).saveAsTable(table)
    else:
        bucket_cols, n_buckets, sort_cols = layout
        write_bucketed(df, table, bucket_cols, n_buckets,
                       sort_cols=sort_cols, mode=mode)


def swap_table(spark, table: str, df) -> None:
    """Replace ``table``'s rows with ``df``'s, in ``table``'s own layout:
    write the swap, drop the base, rename the swap.  ``df`` may read
    ``table`` itself — the base is dropped only after the swap is
    complete.  Call it under :func:`locked_verb`."""
    layout = _layout(spark, table)
    swap = table + _SWAP
    drop_managed_table(spark, swap)
    _save(df, swap, layout)
    drop_managed_table(spark, table)
    spark.sql(f"ALTER TABLE `{swap}` RENAME TO `{table}`")


def append_rows(spark, table: str, df) -> None:
    """Append ``df`` to the bucketed ``table`` in its own layout.  Raises
    ``ValueError`` for an unbucketed table."""
    _save(df, table, _layout(spark, table, bucketed=True), mode="append")


def _delta(spark, delta_root: str | None, columns):
    """The committed rows of a streaming delta root in ``columns``'
    order, or None when the root has no commit."""
    if delta_root is None or not is_manifest_root(delta_root):
        return None
    return read_table(spark, delta_root).select(*columns)


def with_delta(spark, table: str, delta_root: str | None):
    """The one base ∪ delta read: ``table`` through :func:`index_table`
    plus the committed rows of ``delta_root``, duplicates kept (the
    probes collapse duplicate candidates)."""
    base = index_table(spark, table)
    delta = _delta(spark, delta_root, base.columns)
    return base if delta is None else base.unionByName(delta)


def absorb_delta(spark, table: str, delta_root: str, keys):
    """The one compaction merge, under :func:`locked_verb`: swap in
    ``table`` ∪ the committed rows of ``delta_root``, deduplicated on
    ``keys``, so re-running a compaction that crashed before its
    :func:`reset_delta` converges instead of doubling rows.  Raises
    ``ValueError`` for an unbucketed ``table``.  Returns the delta rows
    (None without a commit), readable until the reset: only a caller
    that reports their count pays the job."""
    _layout(spark, table, bucketed=True)
    base = spark.table(table)
    delta = _delta(spark, delta_root, base.columns)
    merged = base if delta is None else base.unionByName(delta)
    swap_table(spark, table, merged.dropDuplicates(list(keys)))
    return delta


def attach_index(spark, name: str, tables, optional=()) -> bool:
    """Re-attach a persisted index's tables in a FRESH session's catalog
    (``bucketing.attach_table``: the warehouse parquet and bucket
    descriptors outlive the building session), finishing crashed swaps
    first (:func:`recover_swaps`).  Attach before starting concurrent
    maintenance, not during it.  Returns True iff every table of
    ``tables`` is reachable; ``optional`` ones attach when present."""
    recover_swaps(spark, name, tuple(tables) + tuple(optional))
    ok = all([attach_table(spark, f"{name}_{t}") for t in tables])
    for t in optional:
        attach_table(spark, f"{name}_{t}")
    return ok


def recover_swaps(spark, name: str, tables) -> None:
    """Delete the hidden directories crashed drops left behind, then
    finish every swap of the index that crashed after its base directory
    was gone: rename the swap directory to the base directory, drop the
    swap's catalog entry, and refresh the base's entry (a drop that
    crashed after its rename left it; the swap was written in its
    layout) or else attach the base.  A directory rename rather than a
    catalog rename, because a swap reached through ``attach_*`` is an
    external table, whose catalog rename would leave the base pointing
    at the swap directory."""
    for t in tables:
        table = f"{name}_{t}"
        for suffix in ("",) + _SWAPS:
            shutil.rmtree(_aside_path(spark, table + suffix),
                          ignore_errors=True)
        base = _warehouse_path(spark, table)
        if os.path.isdir(base):
            continue
        for suffix in _SWAPS:
            swap = _warehouse_path(spark, table + suffix)
            if not os.path.isdir(swap):
                continue
            try:
                os.rename(swap, base)
            except OSError:
                pass  # a concurrent attach restored the base first
            spark.sql(f"DROP TABLE IF EXISTS `{table + suffix}`")
            if spark.catalog.tableExists(table):
                spark.catalog.refreshTable(table)
            else:
                attach_table(spark, table)
            break


def index_table(spark, table: str):
    """Read an index table: ``table`` itself, or — when a swap crashed
    after its base directory was gone — its complete swap, read-only.
    Raises like ``spark.table`` when neither exists."""
    if not os.path.isdir(_warehouse_path(spark, table)) and \
            spark.catalog.tableExists(table + _SWAP):
        return spark.table(table + _SWAP)
    return spark.table(table)


def reset_delta(spark, root: str, name: str) -> int:
    """Commit an EMPTY version of a streaming delta root after its rows
    were compacted into index ``name``.  The version carries the root's
    txn watermarks (and its other registrations), so a replayed
    micro-batch still recognizes itself and does not re-append.  Returns
    the new version."""
    def write(info, data_dir):
        empty = _read_version(spark, _require_base(info, root)).limit(0)
        empty.write.mode("append").parquet(data_dir)
        return _Written(empty.columns, {"compacted_into": name})

    return _commit(spark, root, "reset_delta", write, keep_versions=2)

"""The one lifecycle of the persisted index tables.

The dedup index (``pipeline/dedup.py``) and the ANN index
(``pipeline/similarity.py``) keep their state in managed, mostly
bucketed catalog tables named ``{name}_{t}``.  Spark's catalog has no
commit log (unlike the manifest roots of ``sources/manifest.py``), so a
table is replaced by a swap, and a crash can stop a swap half-way.
Three rules keep every index table recoverable, for both indexes:

1. **Write with** :func:`swap_table`.  The new rows go to
   ``{table}_swap``, then the base table is dropped, then the swap is
   renamed.  A swap whose base is gone is therefore complete; a swap
   beside its base is an unfinished write that the next swap discards.
2. **Repair only under the lock or in ``attach_*``.**
   :func:`recover_swaps` turns a complete swap back into its base
   table (directory rename, then ``attach_table``).  It runs at the
   start of every :func:`locked_verb` and in ``attach_dedup_index`` /
   ``attach_ann_index``, never on a read path.
3. **A reader resolves a missing table to its swap.**
   :func:`index_table` reads ``{table}_swap`` when ``{table}`` is gone
   and writes nothing, so a probe can never race a maintainer.

:func:`reset_index` is the build prologue, and :func:`reset_delta` is
the empty commit that resets a streaming delta root after compaction.
"""

from __future__ import annotations

import os
import shutil

from .bucketing import _warehouse_path, attach_table, drop_managed_table
from .locking import IndexLock, _txn_root, log_index_txn

__all__ = ["reset_index", "locked_verb", "swap_table", "recover_swaps",
           "index_table", "reset_delta"]

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


def swap_table(spark, table: str, write) -> None:
    """Replace ``table`` with the rows that ``write(swap_name)`` saves:
    write the swap, drop the base, rename the swap.  ``write`` may read
    ``table`` itself — the base is dropped only after the swap is
    complete.  Call it under :func:`locked_verb`."""
    swap = table + _SWAP
    drop_managed_table(spark, swap)
    write(swap)
    drop_managed_table(spark, table)
    spark.sql(f"ALTER TABLE `{swap}` RENAME TO `{table}`")


def recover_swaps(spark, name: str, tables) -> None:
    """Finish every swap of the index that crashed after its base table
    was dropped: rename the swap directory to the base directory, drop
    the swap's catalog entry and attach the base.  A directory rename
    rather than a catalog rename, because a swap reached through
    ``attach_*`` is an external table, whose catalog rename would leave
    the base pointing at the swap directory."""
    for t in tables:
        table = f"{name}_{t}"
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
            attach_table(spark, table)
            break


def index_table(spark, table: str):
    """Read an index table: ``table`` itself, or — when a swap crashed
    after dropping it — its complete swap, read-only.  Raises like
    ``spark.table`` when neither exists."""
    if not spark.catalog.tableExists(table) and \
            spark.catalog.tableExists(table + _SWAP):
        return spark.table(table + _SWAP)
    return spark.table(table)


def reset_delta(spark, root: str, name: str) -> int:
    """Commit an EMPTY version of a streaming delta root after its rows
    were compacted into index ``name``.  The version carries the root's
    txn watermarks (and its other registrations), so a replayed
    micro-batch still recognizes itself and does not re-append.  Returns
    the new version."""
    from .manifest import _base_dir, _commit, _Written
    from .readers import read_parquet

    def write(info, data_dir):
        empty = read_parquet(spark, _base_dir(info, root)).limit(0)
        empty.write.mode("append").parquet(data_dir)
        return _Written(empty.columns, {"compacted_into": name})

    return _commit(spark, root, "reset_delta", write, keep_versions=2)

"""Manifest-commit protocol: atomic, versioned parquet tables.

A commit log over immutable version directories — the minimal in-repo
version of what a lakehouse format (Delta/Iceberg) gives a table:

Layout::

    root/
      _commits/v0000000001.json       <- one immutable file per version
      _commits/checkpoint-v0000000010.json  <- every Nth commit's payload
      _commits/_last_checkpoint       <- pointer: O(1)-ish log resolution
      _versions/v0000000001-3f2a.../  <- immutable data dir per version

Protocol:

- **Write data first, commit last.**  A version's data directory is fully
  written (and never mutated again) before its commit file appears.  The
  commit file is created with ``O_CREAT | O_EXCL`` — an atomic
  claim of that version number on POSIX — so two concurrent writers
  racing to commit version N cannot both succeed: the loser gets
  ``CommitConflict``.  This is the same optimistic-concurrency shape as
  Delta's ``_delta_log/N.json``.
- **One commit path.**  Every writer — upsert, delete, merge,
  compaction, constraint changes, streaming appends and views, index
  delta resets — commits through ``_commit``; only the index txn log
  (``locking.log_index_txn``) claims versions itself.  Every commit
  carries the base version's txn watermarks, CHECK constraints,
  ``stats_cols`` and bloom filters, and enforces the constraints on the
  rows it writes before any base file is hardlinked in.  A writer that
  loses the claim removes its own data dir and reruns on the winner's
  table (up to ``max_retries``); any other failure removes the dir too
  and re-raises, so a failed write leaves nothing behind.
- **Readers resolve the newest commit file.**  A commit file is immutable
  and names an immutable data dir, so a reader mid-upsert sees a complete
  snapshot — either the old version or the new one, never a torn mix, no
  locks.  ``read_table`` (and ``readers.read_parquet`` on a manifest
  root) do this resolution, and read the version with the schema its
  commit recorded, so no read infers one.
- **Old versions are retained, then vacuumed.**  ``vacuum`` keeps the
  newest ``keep`` versions (a retention window for in-flight readers,
  exactly like Delta VACUUM) and also removes orphan data dirs left by
  crashed writers — a crash BEFORE commit leaves the table untouched by
  construction.
- **Unchanged files are hardlinked across versions**, so a
  partition-granular upsert still costs O(touched partitions) in both
  write volume and disk: untouched partition files in the new version
  share inodes with the old one (content, mtime and all).

Local-filesystem implementation of the concept; on an object store the
production answer is the real table format the docstrings name.
"""

from __future__ import annotations

import datetime
import decimal
import json
import operator
import os
import shutil
import time
import urllib.parse
import uuid
import warnings
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from . import filestats

__all__ = ["CommitConflict", "latest_commit", "latest_commit_info",
           "commit_version", "new_version_dir", "read_table",
           "is_manifest_root", "manifest_upsert", "manifest_delete",
           "table_history", "table_changes", "compact_table",
           "manifest_merge", "vacuum", "write_table_stats",
           "write_table_bloom", "alter_table_constraints", "table_detail",
           "CHECKPOINT_INTERVAL"]

_COMMITS = "_commits"
_VERSIONS = "_versions"
_LAST_CHECKPOINT = "_last_checkpoint"
# every Nth commit also writes _commits/checkpoint-vNNN.json and repoints
# _last_checkpoint — the Delta _last_checkpoint pattern, so resolving the
# newest commit is O(commits since last checkpoint) ≈ O(interval) instead
# of an O(|log|) directory listing, with FULL history retained (unlike
# vacuum(keep_log), which bounds the listing only by discarding history)
CHECKPOINT_INTERVAL = 10


class CommitConflict(Exception):
    """Another writer committed this version number first."""


def _commits_dir(root: str) -> str:
    return os.path.join(root, _COMMITS)


def is_manifest_root(root: str) -> bool:
    d = _commits_dir(root)
    return os.path.isdir(d) and any(
        f.endswith(".json") for f in os.listdir(d))


def latest_commit_info(root: str) -> dict | None:
    """Full payload of the newest commit ({"version", "data_dir" (abs),
    "meta"}), or None for an empty/absent table.  ``meta["schema"]`` is
    the version's schema as ``StructType.json()``, recorded at commit
    (absent only on versions committed before schemas were recorded):
    readers hand it to Spark and infer nothing.  No locks, no reads of
    mutable state: commit files are immutable, and the ``_last_checkpoint``
    pointer (when present) makes resolution O(commits since the last
    checkpoint) — version numbers are contiguous by construction (every
    commit claims base+1 with O_EXCL), so the newest commit is found by
    probing forward from the checkpointed version instead of listing the
    whole log.  Falls back to the full O(|log|) listing when no checkpoint
    exists yet, or when the pointed-at commit file was pruned by
    ``vacuum(keep_log)``."""
    d = _commits_dir(root)
    if not os.path.isdir(d):
        return None
    best = None
    lc = os.path.join(d, _LAST_CHECKPOINT)
    if os.path.exists(lc):
        try:
            with open(lc) as fh:
                ck = int(json.load(fh)["version"])
        except (ValueError, KeyError, TypeError, OSError):
            ck = None
        if ck is not None and \
                os.path.exists(os.path.join(d, f"v{ck:010d}.json")):
            best = ck
            while os.path.exists(os.path.join(d, f"v{best + 1:010d}.json")):
                best += 1
    if best is None:
        for f in os.listdir(d):
            if not (f.startswith("v") and f.endswith(".json")):
                continue
            try:
                v = int(f[1:-5])
            except ValueError:
                continue
            if best is None or v > best:
                best = v
    if best is None:
        return None
    with open(os.path.join(d, f"v{best:010d}.json")) as fh:
        payload = json.load(fh)
    payload["data_dir"] = os.path.join(root, payload["data_dir"])
    payload.setdefault("meta", {})
    return payload


def latest_commit(root: str) -> tuple[int, str] | None:
    """(version, absolute data dir) of the newest commit, or None."""
    info = latest_commit_info(root)
    return None if info is None else (info["version"], info["data_dir"])


def new_version_dir(root: str, version: int) -> str:
    """A fresh, uniquely-named data dir for ``version`` (not yet
    committed — invisible to readers until ``commit_version``)."""
    name = f"v{version:010d}-{uuid.uuid4().hex[:8]}"
    path = os.path.join(root, _VERSIONS, name)
    os.makedirs(path, exist_ok=True)
    return path


def commit_version(root: str, version: int, data_dir: str,
                   meta: dict | None = None) -> None:
    """Atomically claim ``version`` for ``data_dir``.  The payload is
    fully written (and fsynced) to a hidden temp file FIRST, then
    hard-linked to the commit name — ``link(2)`` fails if the name
    exists, so the first writer still wins (the loser gets
    :class:`CommitConflict`; its orphan data dir the next vacuum
    removes), and a concurrent reader can never observe a commit file
    whose content isn't complete — the empty-file window an O_EXCL
    create + write would leave, which would make a tailing change feed
    skip the version forever.  The directory is fsynced so the commit
    survives a crash.  ``meta`` rides along in the payload (e.g. a
    streaming batch_id, so a replayed batch can recognize itself and
    skip — exactly-once across restarts)."""
    cdir = _commits_dir(root)
    os.makedirs(cdir, exist_ok=True)
    rel = os.path.relpath(data_dir, root)
    payload = json.dumps({"version": version, "data_dir": rel,
                          "ts": time.time(), "meta": meta or {}})
    path = os.path.join(cdir, f"v{version:010d}.json")
    tmp = os.path.join(cdir, f".v{version:010d}.{uuid.uuid4().hex[:8]}")
    fd = os.open(tmp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    try:
        data = payload.encode()
        off = 0
        while off < len(data):  # os.write may be short (e.g. ENOSPC
            off += os.write(fd, data[off:])  # edge); never link a prefix
        os.fsync(fd)
    finally:
        os.close(fd)
    try:
        os.link(tmp, path)  # atomic claim WITH complete content
    except FileExistsError:
        raise CommitConflict(
            f"version {version} of {root!r} was committed by another "
            f"writer") from None
    finally:
        try:
            os.unlink(tmp)
        except OSError:
            pass
    try:  # fsync the directory entry too (commit must survive power loss)
        dfd = os.open(cdir, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    except OSError:
        pass  # platform without directory fsync: best-effort
    if version % CHECKPOINT_INTERVAL == 0:
        _write_checkpoint(cdir, version, payload)


def _write_checkpoint(cdir: str, version: int, payload: str) -> None:
    """Write ``checkpoint-vNNN.json`` (the commit payload — each commit
    names a complete snapshot dir, so one commit IS the full table state)
    and atomically repoint ``_last_checkpoint`` via temp + rename.  Purely
    an acceleration structure: a crash between the two writes, a stale
    pointer, or a missing checkpoint all fall back to the listing path in
    ``latest_commit_info`` — correctness never depends on it."""
    try:
        with open(os.path.join(cdir, f"checkpoint-v{version:010d}.json"),
                  "w") as fh:
            fh.write(payload)
        tmp = os.path.join(cdir, f".{_LAST_CHECKPOINT}.{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as fh:
            fh.write(json.dumps({"version": version}))
        os.replace(tmp, os.path.join(cdir, _LAST_CHECKPOINT))
    except OSError:
        pass  # best-effort; resolution falls back to the full listing



def _version_info(root: str, version: int | None = None) -> dict:
    """Commit payload of a committed version (the newest when None), with
    an absolute ``data_dir`` — plus the explanatory errors every caller
    wants: unknown version vs a version whose data the vacuum retention
    already reclaimed."""
    if version is None:
        info = latest_commit_info(root)
        if info is None:
            raise FileNotFoundError(f"no committed version under {root!r}")
        return info
    path = os.path.join(_commits_dir(root), f"v{version:010d}.json")
    if not os.path.exists(path):
        # vacuum(keep_log) prunes old commit files but retains checkpoint
        # payloads (identical content) — time travel reaches a
        # checkpointed version even after its commit file is gone
        path = os.path.join(_commits_dir(root),
                            f"checkpoint-v{version:010d}.json")
        if not os.path.exists(path):
            raise FileNotFoundError(
                f"version {version} was never committed under {root!r} "
                f"(or its commit file was pruned by vacuum(keep_log) "
                f"with no surviving checkpoint)")
    with open(path) as fh:
        payload = json.load(fh)
    payload["data_dir"] = os.path.join(root, payload["data_dir"])
    payload.setdefault("meta", {})
    if not os.path.isdir(payload["data_dir"]):
        raise FileNotFoundError(
            f"version {version} of {root!r} is outside the vacuum "
            f"retention window (its data dir was reclaimed)")
    return payload


def _iter_data_files(data_dir: str):
    """(relpath, abspath) of every parquet data file under a version dir
    — one definition of "data file" (skip metadata/hidden) for stats,
    blooms, pruning and DESCRIBE DETAIL alike."""
    for dirpath, dirs, names in os.walk(data_dir):
        # hidden dirs (Spark metadata convention) are never data
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        rel_dir = os.path.relpath(dirpath, data_dir)
        rel_dir = "" if rel_dir == "." else rel_dir
        for f in names:
            if f.startswith(("_", ".")) or not f.endswith(".parquet"):
                continue
            yield (os.path.join(rel_dir, f) if rel_dir else f,
                   os.path.join(dirpath, f))


def _commit_ts(cdir: str, fname: str, payload: dict) -> float:
    """A commit's wall-clock instant: the ``ts`` the writer stamped into
    the payload, or (tables written before ts existed) the commit file's
    mtime — the exact fallback Delta's TIMESTAMP AS OF uses, since the
    commit file is created once and never rewritten."""
    ts = payload.get("ts")
    if isinstance(ts, (int, float)):
        return float(ts)
    try:
        return os.path.getmtime(os.path.join(cdir, fname))
    except OSError:
        return float("inf")


def _as_of_epoch(as_of) -> float:
    if isinstance(as_of, bool) or as_of is None:
        raise TypeError(f"as_of must be an epoch number, datetime or ISO "
                        f"string; got {as_of!r}")
    if isinstance(as_of, (int, float)):
        return float(as_of)
    if isinstance(as_of, str):
        as_of = datetime.datetime.fromisoformat(as_of)
    if isinstance(as_of, datetime.datetime):
        return as_of.timestamp()
    if isinstance(as_of, datetime.date):
        return datetime.datetime(as_of.year, as_of.month,
                                 as_of.day).timestamp()
    raise TypeError(f"as_of must be an epoch number, datetime or ISO "
                    f"string; got {as_of!r}")


def _version_as_of(root: str, as_of) -> int:
    """Newest committed version at wall-clock instant ``as_of`` — the
    TIMESTAMP AS OF half of time travel.  O(|log|) listing by design:
    this is an audit/debug path, not the hot read path.  Checkpoint
    payloads count too (they carry the same version/ts fields), so a
    version whose commit file was pruned by ``vacuum(keep_log)`` but
    remains readable via its checkpoint stays reachable by timestamp —
    consistent with ``read_table(version=…)``'s checkpoint fallback."""
    target = _as_of_epoch(as_of)
    cdir = _commits_dir(root)
    best = None
    earliest = None
    if os.path.isdir(cdir):
        for f in os.listdir(cdir):
            if not f.endswith(".json") or not (
                    f.startswith("v") or f.startswith("checkpoint-v")):
                continue
            try:
                with open(os.path.join(cdir, f)) as fh:
                    payload = json.load(fh)
                v = int(payload["version"])
                ts = _commit_ts(cdir, f, payload)
            except (ValueError, KeyError, TypeError, OSError):
                continue
            earliest = ts if earliest is None else min(earliest, ts)
            if ts <= target and (best is None or v > best):
                best = v
    if best is None:
        raise FileNotFoundError(
            f"no version of {root!r} existed at {as_of!r}"
            + (f" (earliest commit is {earliest})" if earliest else ""))
    return best


def read_table(spark: SparkSession, root: str,
               version: int | None = None,
               where: list[tuple] | None = None,
               as_of=None) -> DataFrame:
    """Read a committed snapshot — the newest by default, or a specific
    ``version`` (time travel: every commit file is immutable, so any
    version whose data dir survives the vacuum retention window reads
    exactly as it was committed).  ``as_of`` is the TIMESTAMP AS OF
    spelling of the same thing (epoch seconds, datetime, or ISO string;
    resolved against each commit's stamped wall-clock, file mtime for
    pre-ts tables) — mutually exclusive with ``version``.  Raises
    FileNotFoundError for an empty table, an unknown version, an
    ``as_of`` before the first commit, or a version whose data was
    vacuumed.

    ``where`` — a list of ``(column, op, literal)`` triples (implicitly
    ANDed, op in ``= != < <= > >=``) — turns the read into a
    DATA-SKIPPING scan, the consumer half of the Delta stats story that
    ``compact_table(zorder_by=…)`` produces files for: per-file min/max
    stats (the ``_stats.parquet`` sidecar written at commit time), Hive
    ``col=value`` partition path segments and per-file bloom filters
    (``write_table_bloom``) prune files that cannot satisfy the
    predicates, and Spark never opens them.  The full predicate is
    ALWAYS re-applied as a residual filter on the surviving files, so
    skipping is purely an accelerator — a missing sidecar, an unstatted
    column, or an incomparable literal degrade to reading more files,
    never to a wrong answer (the same correctness contract as the
    commit-log checkpoint).  At 100 TB this is the difference between a
    full-table scan and opening only the files a point/range query can
    touch — the verdicts run as vectorized kernels over the sidecars
    (:mod:`.filestats`), with no per-file Python.

    The version's schema is the one recorded in its commit file
    (``meta["schema"]``, see ``_commit``), so building the frame infers
    nothing and starts no Spark job, pruned or not; only a version
    committed before schemas were recorded still infers its schema."""
    if as_of is not None:
        if version is not None:
            raise ValueError("pass either version or as_of, not both")
        version = _version_as_of(root, as_of)
    info = _version_info(root, version)
    if not where:
        return _read_version(spark, info)
    return _read_pruned(spark, info, where)


# ---------------------------------------------------------------------------
# Schemas in the commit log (Delta's ``metaData.schemaString``).
#
# ``_commit`` records each version's schema exactly as
# ``spark.read.parquet(data_dir).schema`` would infer it, without a Spark
# job: from the Spark row schema in a new file's footer (nullable, as
# Spark's file sources read every column), or the base's when the version
# wrote no file.  ``_read_version`` hands it to Spark, so no read of a
# committed version launches Spark's one-task footer-inference job.
# ---------------------------------------------------------------------------

_SPARK_ROW_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"


def _version_schema(info: dict):
    """The StructType recorded in a version's commit, or None for a
    version committed before schemas were recorded."""
    from pyspark.sql.types import StructType

    recorded = info.get("meta", {}).get("schema")
    return None if recorded is None else \
        StructType.fromJson(json.loads(recorded))


def _read_version(spark: SparkSession, info: dict,
                  files: list[str] | None = None) -> DataFrame:
    """The one read of a committed version: its data dir — or only
    ``files`` (relpaths under it; ``basePath`` keeps the partition
    columns) — read with the schema in ``info``'s commit meta, so
    building the frame starts no Spark job.  A version without a
    recorded schema infers it (one footer job), and its nanosecond
    timestamps read as long convert to µs like ``readers.read_parquet``'s;
    a recorded schema came from Spark's own footers, which hold none."""
    from .readers import _with_micros, ensure_session_confs

    ensure_session_confs(spark)
    data_dir = info["data_dir"]
    schema = _version_schema(info)
    reader = spark.read if schema is None else spark.read.schema(schema)
    if files is None:
        df = reader.parquet(data_dir)
    else:
        df = reader.option("basePath", data_dir).parquet(
            *[os.path.join(data_dir, r) for r in files])
    return df if schema is not None else _with_micros(df, data_dir)


def _nullable(t):
    """A Spark type's JSON with every field, element and map value
    nullable — Spark's ``asNullable``, which its file sources apply to
    the schema they read."""
    if not isinstance(t, dict):
        return t
    kind = t.get("type")
    if kind == "struct":
        return {**t, "fields": [{**f, "nullable": True,
                                 "type": _nullable(f["type"])}
                                for f in t["fields"]]}
    if kind == "array":
        return {**t, "containsNull": True,
                "elementType": _nullable(t["elementType"])}
    if kind == "map":
        return {**t, "valueContainsNull": True,
                "keyType": _nullable(t["keyType"]),
                "valueType": _nullable(t["valueType"])}
    return t


def _footer_schema(path: str) -> str | None:
    """JSON of the Spark row schema in a parquet file's footer (the data
    columns Spark wrote, partition columns excluded), nullable; None for
    a file Spark did not write."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    try:
        raw = (pq.read_metadata(path).metadata or {}).get(_SPARK_ROW_SCHEMA)
        return None if raw is None else \
            StructType.fromJson(_nullable(json.loads(raw))).json()
    except (OSError, ValueError, KeyError, TypeError):
        return None


def _schema_meta(spark: SparkSession, data_dir: str, written: str | None,
                 info: dict | None) -> dict:
    """The ``{"schema": json}`` commit-meta fragment of the fully written
    version in ``data_dir``.  ``written`` is the path of a file this
    version wrote, None when it wrote none and keeps the base's schema.
    A partitioned version's partition column types come from Spark's own
    partition discovery over the dir (a driver-side listing, no job).
    Empty when no Spark-written footer is there to read (such a version
    reads through inference, like one committed before schemas were
    recorded)."""
    base = None if info is None else info.get("meta", {}).get("schema")
    if written is None and base is not None:
        return {"schema": base}
    files = list(_iter_data_files(data_dir))
    data = _footer_schema(written or files[0][1]) if files else None
    if data is None:
        return {}
    if all(os.sep not in rel for rel, _p in files):
        return {"schema": data}
    return {"schema": _read_version(
        spark, {"data_dir": data_dir, "meta": {"schema": data}})
        .schema.json()}


# ---------------------------------------------------------------------------
# File-level data skipping (Delta per-file stats, local-sidecar edition).
#
# ``_stats.parquet`` (and any ``_bloom-<col>.parquet``) lives INSIDE the
# (immutable-after-commit) version data dir, written after the parquet
# files and before the commit file, so a committed snapshot's stats are as
# immutable as its data.  ``_link_tree`` skips ``_``-prefixed files, so
# sidecars never leak across versions via hardlinks — each writer carries
# the base version's rows forward by relpath and reads only the NEW files'
# parquet FOOTERS (no row data).  On an object store the production shape
# is Delta's: stats ride in the commit log itself; the sidecar keeps this
# repo's commit payload O(1) while exercising the same pruning semantics.
# ---------------------------------------------------------------------------

_WHERE_OPS = ("=", "!=", "<", "<=", ">", ">=", "in", "isnull", "isnotnull")
_COMPARE_OPS = {"=": operator.eq, "!=": operator.ne, "<": operator.lt,
                "<=": operator.le, ">": operator.gt, ">=": operator.ge}


def _comparable(bound, val):
    """Coerce a numeric bound and a predicate literal into one
    comparable domain; TypeError when they can't be compared (the caller
    then keeps the file — pruning must never guess).  Numerics compare
    EXACTLY (int↔int stays integral; mixed int/float/Decimal goes
    through Decimal, whose float conversion is the exact binary value) —
    a float() coercion here would round int64 values at 2^53 and
    silently prune files whose rows survive the residual filter."""
    num = (int, float, decimal.Decimal)
    if isinstance(bound, bool) or isinstance(val, bool):
        raise TypeError("boolean stats are not pruned")
    if not (isinstance(bound, num) and isinstance(val, num)):
        raise TypeError(f"incomparable: {bound!r} vs {val!r}")
    if (isinstance(bound, float) and bound != bound) or \
            (isinstance(val, float) and val != val):
        raise TypeError("NaN bounds/literals are not pruned")
    if isinstance(bound, int) and isinstance(val, int):
        return bound, val
    return (bound if isinstance(bound, decimal.Decimal)
            else decimal.Decimal(bound)), \
           (val if isinstance(val, decimal.Decimal)
            else decimal.Decimal(val))


def _range_may_match(lo, hi, op: str, val) -> bool:
    """May any value in [lo, hi] satisfy ``x op val``?  Conservative:
    incomparable / NaN bounds answer True (keep the file)."""
    try:
        lo2, v = _comparable(lo, val)
        hi2, _ = _comparable(hi, val)
    except (TypeError, ValueError, decimal.InvalidOperation):
        return True
    if op == "=":
        return lo2 <= v <= hi2
    if op == "!=":
        return not (lo2 == v == hi2)
    if op == "<":
        return lo2 < v
    if op == "<=":
        return lo2 <= v
    if op == ">":
        return hi2 > v
    if op == ">=":
        return hi2 >= v
    return True


def _part_may_match(pv, op: str, val) -> bool:
    """Partition-path pruning from a Hive ``col=value`` segment.  The
    path value is a string whose COLUMN type Spark infers elsewhere, so
    comparisons only prune when both the lexical and the numeric
    interpretation agree the file can't match — e.g. ``("bucket", "=",
    "09")`` keeps dir ``bucket=9`` (numeric cast would match) and range
    ops with string literals abstain entirely (an int column would
    compare numerically, a string column lexically — unknowable from
    the path alone)."""
    if op == "isnull":
        return pv is None
    if op == "isnotnull":
        return pv is not None
    if pv is None:
        return False  # null partition value: null-rejecting ops can't hit
    if op == "in":
        return any(_part_may_match(pv, "=", v) for v in val)
    if isinstance(val, str):
        if op == "=":
            if pv == val:
                return True
            try:  # unequal lexically — could a numeric cast still match?
                return float(pv) == float(val)
            except (TypeError, ValueError):
                return False
        if op == "!=":  # single-valued dir: prune only on lexical equality
            return pv != val
        return True  # range op on an ambiguous domain: abstain
    try:
        pvn: object = int(pv)
    except (TypeError, ValueError):
        try:
            pvn = float(pv)
        except (TypeError, ValueError):
            return True  # non-numeric path value vs numeric literal
    if _range_may_match(pvn, pvn, op, val):
        return True
    # the column may equally be DOUBLE-typed, where BOTH the path value
    # and the literal coerce to float64 — distinct int64s collide past
    # 2^53 there (e.g. dir 14117575344953599 vs literal
    # ...600 compare EQUAL as doubles), so evaluate the double-domain
    # interpretation too and keep the dir if EITHER may match: the path
    # alone can't reveal the column type, and pruning must never guess
    try:
        return _range_may_match(float(pv), float(pv), op, float(val))
    except (TypeError, ValueError, OverflowError):
        return True


def write_table_stats(root: str, cols: list[str],
                      version: int | None = None) -> int:
    """Backfill the data-skipping sidecar for an already-committed
    version (the newest by default) — e.g. a streaming-ingested table,
    whose per-batch commits skip stats collection.  Purely an additive
    acceleration structure (data files are never touched; a reader
    mid-backfill simply prunes nothing), and subsequent
    ``manifest_upsert``/``compact_table`` commits inherit the column
    set.  Returns the number of files covered."""
    return filestats.write_stats_parquet(
        _version_info(root, version)["data_dir"], cols)


def upgrade_table_stats(root: str, version: int | None = None) -> dict:
    """Migrate a version's pre-parquet JSON skipping sidecars to the
    parquet formats — the only code that still reads them.  Readers and
    writers see only ``_stats.parquet`` / ``_bloom-<col>.parquet``: a
    pruned read of a JSON-only version keeps every file on stats
    (partition verdicts still run) and warns, and a writer committing
    over it carries nothing from the JSON.  After this call the version
    prunes like a fresh table, and later commits carry the parquet
    sidecars forward.

    Stats: the column set comes from the combined ``_stats.json``
    header, or else from the per-column ``_statscol-<col>.json`` file
    names, and ``_stats.parquet`` is rebuilt from the data files'
    parquet footers (no row data read).  Blooms: the filter bytes of
    each per-column ``_bloom-<col>.json`` (or of the combined
    ``_bloom.json``) are re-packed into ``_bloom-<col>.parquet`` —
    filters cannot be rebuilt without a scan of the column.  A JSON
    file is removed once its parquet replacement exists.  Idempotent;
    returns {"stats_files": n|None, "bloom_cols": [...],
    "removed_legacy": k}."""
    import base64

    import pyarrow as pa

    data_dir = _version_info(root, version)["data_dir"]
    out: dict = {"stats_files": None, "bloom_cols": [],
                 "removed_legacy": 0}
    names = os.listdir(data_dir)
    splits = [f for f in names
              if f.startswith("_statscol-") and f.endswith(".json")]
    stats_json = splits + [f for f in names if f == "_stats.json"]
    legacy: list[str] = []

    sp = filestats.stats_parquet_path(data_dir)
    if stats_json and not os.path.exists(sp):
        try:
            with open(os.path.join(data_dir, "_stats.json")) as fh:
                cols = list(json.load(fh).get("stats_cols", []))
        except (OSError, ValueError, AttributeError, TypeError):
            cols = []
        cols = cols or [urllib.parse.unquote(
            f[len("_statscol-"):-len(".json")]) for f in splits]
        if cols:
            out["stats_files"] = filestats.write_stats_parquet(data_dir,
                                                               cols)
    if os.path.exists(sp):
        legacy.extend(stats_json)

    # {col: (bits, k, {rel: b64 filter})}; a per-column file wins over
    # the combined one
    filters: dict[str, tuple] = {}
    combined_cols: list = []
    if "_bloom.json" in names:
        try:
            with open(os.path.join(data_dir, "_bloom.json")) as fh:
                d = json.load(fh)
            for col, files in d.get("cols", {}).items():
                combined_cols.append(col)
                filters[col] = (int(d["bits"]), int(d["k"]), files)
        except (OSError, ValueError, KeyError, TypeError, AttributeError):
            pass
    per_col = {urllib.parse.unquote(f[len("_bloom-"):-len(".json")]): f
               for f in names
               if f.startswith("_bloom-") and f.endswith(".json")}
    for col, f in per_col.items():
        try:
            with open(os.path.join(data_dir, f)) as fh:
                d = json.load(fh)
            filters[col] = (int(d["bits"]), int(d["k"]),
                            d.get("files", {}))
        except (OSError, ValueError, KeyError, TypeError, AttributeError):
            continue
    for col in sorted(filters):
        if os.path.exists(filestats.bloom_parquet_path(data_dir, col)):
            continue
        bits, k_h, files = filters[col]
        nbytes = bits // 8 + (1 if bits % 8 else 0)
        rels = sorted(files)
        tbl = pa.table({
            "rel": pa.array(rels, type=pa.string()),
            "f": pa.array([base64.b64decode(files[r]) for r in rels],
                          type=pa.binary(nbytes))})
        filestats.write_bloom_parquet_table(data_dir, col, tbl, bits, k_h)
        out["bloom_cols"].append(col)

    def _has_bloom_parquet(col):
        return os.path.exists(filestats.bloom_parquet_path(data_dir, col))

    legacy.extend(f for col, f in per_col.items() if _has_bloom_parquet(col))
    if "_bloom.json" in names and all(map(_has_bloom_parquet,
                                          combined_cols)):
        legacy.append("_bloom.json")

    for f in legacy:
        try:
            os.unlink(os.path.join(data_dir, f))
            out["removed_legacy"] += 1
        except OSError:
            pass
    return out


def _inherited_bloom_spec(info: dict | None) -> dict[str, dict]:
    """The bloom columns (+ sizing) a new version should carry: the
    UNION of commit-meta registrations and base-dir sidecar headers,
    meta winning per column — mirrors ``_inherited_stats_cols``.  The
    union matters because the two sources drift legitimately: a column
    backfilled post-commit via ``write_table_bloom`` exists only as a
    sidecar header until the next commit re-registers it, and dropping
    it here would silently degrade its point-lookup skipping to abstain
    on every subsequent version."""
    if info is None:
        return {}
    spec = filestats.bloom_parquet_specs(info["data_dir"])
    for c, s in (info.get("meta", {}).get("bloom", {}) or {}).items():
        try:
            spec[c] = {"bits": int(s["bits"]), "k": int(s["k"])}
        except (ValueError, KeyError, TypeError):
            continue  # malformed meta entry: keep the sidecar header
    return spec


def _write_bloom_cols(spark: SparkSession, version: dict,
                      spec: dict[str, dict],
                      base_dir: str | None = None) -> int:
    """Build/carry the per-column Bloom PARQUET sidecars for a version
    (a commit payload: its ``data_dir`` and the ``meta`` schema the scan
    reads with) — the one bloom builder: commits (``_finalize_bloom``)
    and the ``write_table_bloom`` backfill both run it, hashing each value's
    string cast with Spark's ``xxhash64`` exactly as
    ``_bloom_probe_bits`` hashes the probe literals.  ``base_dir``
    enables the Delta carry-forward shape: a relpath
    in the base version's sidecar (matching bits/k) reuses its filter
    bytes WITHOUT rescanning (versions share files only by hardlink —
    same relpath ⇒ same inode ⇒ same keys), VECTORIZED (the base
    parquet rows are filtered by relpath membership, no per-file
    Python), so a commit scans only its NEW files: O(touched), never
    O(table).  New files' filters are PACKED EXECUTOR-SIDE — the scan
    aggregates distinct (file, bit) pairs JVM-side and a vectorized
    pandas UDF turns each file's bit list into filter bytes, so the
    driver handles one Arrow batch of (file, bytes), never per-bit
    loops.  A file the scan PROVABLY saw (``explode_outer`` keeps
    all-null files in the grouping) but that holds no non-null values
    gets an exact all-zero filter; a file the scan did NOT resolve back
    to a known relpath gets NO entry — the probe abstains and reads it,
    fail-safe over fast.  Returns the number of (col, file) entries
    written."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    data_dir = version["data_dir"]
    cur = dict(_iter_data_files(data_dir))  # rel -> abs path
    rels_now = pa.array(sorted(cur), type=pa.string())
    carried: dict[str, "pa.Table"] = {}
    missing_by_col: dict[str, list[str]] = {}
    for col, s in spec.items():
        b = None if base_dir is None \
            else filestats.load_bloom_parquet(base_dir, col)
        if b is not None and b["bits"] == int(s["bits"]) \
                and b["k"] == int(s["k"]):
            mask = pc.is_in(b["tbl"].column("rel"), value_set=rels_now)
            tblc = b["tbl"].select(["rel", "f"]).filter(mask)
            carried[col] = tblc
            have = pc.is_in(rels_now, value_set=tblc.column("rel"))
            missing_by_col[col] = pc.filter(
                rels_now, pc.invert(have)).to_pylist()
        else:
            missing_by_col[col] = list(rels_now.to_pylist())
    need = sorted(set().union(*missing_by_col.values())) if spec else []
    built: dict[str, "pa.Table"] = {}
    if need and spec:
        df = _read_version(spark, version, files=need)
        for col, s in spec.items():
            missing = set(missing_by_col[col])
            if not missing or col not in df.columns:
                continue
            bits, k_hashes = int(s["bits"]), int(s["k"])
            nbytes = bits // 8 + (1 if bits % 8 else 0)

            def _make_pack(nb: int):
                def _pack(bs):
                    import numpy as np

                    out = []
                    for lst in bs:
                        buf = np.zeros(nb, dtype=np.uint8)
                        if len(lst):
                            a = np.asarray(lst, dtype=np.int64)
                            np.bitwise_or.at(
                                buf, a >> 3,
                                (1 << (a & 7)).astype(np.uint8))
                        out.append(buf.tobytes())
                    return pd.Series(out)
                # real annotation objects: PEP-563 string hints from
                # `from __future__ import annotations` don't resolve in
                # pandas_udf's type inference
                _pack.__annotations__ = {"bs": pd.Series,
                                         "return": pd.Series}
                return pandas_udf(_pack, "binary")

            _pack = _make_pack(nbytes)

            # distinct (file, bit) pairs aggregate JVM-side; the
            # explode_outer-over-NULL-array keeps files with zero
            # non-null values in the grouping (one (file, NULL) row;
            # collect_list drops the NULL) — presence proves the scan
            # saw them, so their all-zero filter is exact
            pos = (df.select(
                       F.input_file_name().alias("_f"),
                       F.explode_outer(F.when(
                           F.col(col).isNotNull(),
                           F.array(*[
                               F.pmod(F.xxhash64(
                                   F.col(col).cast("string"), F.lit(i)),
                                   F.lit(bits)).cast("int")
                               for i in range(k_hashes)]))).alias("_b"))
                   .distinct()
                   .groupBy("_f").agg(F.collect_list("_b").alias("_bs"))
                   .select("_f", _pack("_bs").alias("_p"))
                   .toArrow())
            got_rels, got_bytes = [], []
            for f_uri, pbytes in zip(pos.column("_f").to_pylist(),
                                     pos.column("_p").to_pylist()):
                f = urllib.parse.unquote(urllib.parse.urlparse(f_uri).path)
                rel = os.path.relpath(f, os.path.abspath(data_dir))
                # only files resolving to a known missing relpath get an
                # entry; unresolved files abstain (fail-safe)
                if rel in missing:
                    got_rels.append(rel)
                    got_bytes.append(pbytes)
            built[col] = pa.table({
                "rel": pa.array(got_rels, type=pa.string()),
                "f": pa.array(got_bytes, type=pa.binary(nbytes))})
    total = 0
    for col, s in spec.items():
        bits, k_hashes = int(s["bits"]), int(s["k"])
        nbytes = bits // 8 + (1 if bits % 8 else 0)
        pieces = []
        if col in carried and carried[col].num_rows:
            pieces.append(carried[col].set_column(
                1, "f", carried[col].column("f").cast(pa.binary(nbytes))))
        if col in built and built[col].num_rows:
            pieces.append(built[col])
        if pieces:
            tbl = pa.concat_tables(pieces) if len(pieces) > 1 \
                else pieces[0]
        else:
            tbl = pa.table({"rel": pa.array([], type=pa.string()),
                            "f": pa.array([], type=pa.binary(nbytes))})
        total += filestats.write_bloom_parquet_table(
            data_dir, col, tbl, bits, k_hashes)
    return total


def _finalize_bloom(spark: SparkSession, version: dict,
                    info: dict | None,
                    columns: list[str] | None = None) -> dict:
    """Carry the base version's bloom registration into a fully-written
    (pre-commit) ``version`` and return the commit-meta fragment — the
    bloom analogue of ``_finalize_stats``: hardlinked files reuse their
    filter bytes, only new files scan, and ``_commit`` calls this for
    EVERY writer so point-lookup skipping survives normal writes instead
    of degrading to stats-only after the first commit."""
    spec = _inherited_bloom_spec(info)
    if columns is not None:
        spec = {c: s for c, s in spec.items() if c in columns}
    if not spec:
        return {}
    _write_bloom_cols(spark, version, spec,
                      base_dir=info["data_dir"] if info else None)
    return {"bloom": spec}


def write_table_bloom(spark: SparkSession, root: str, cols: list[str],
                      bits: int = 1 << 16, k_hashes: int = 5,
                      version: int | None = None) -> int:
    """Per-file Bloom filters for POINT-LOOKUP skipping — the Delta
    bloom-filter-index shape for the case min/max stats can't prune: a
    high-cardinality key hash-scattered across files, where every file's
    [min,max] spans the whole domain but each file holds only its own
    keys.  One column scan builds the filters (distinct (file, bit)
    pairs aggregate JVM-side — the shuffle is bounded by files × bits,
    never rows), the per-column ``_bloom-<col>.parquet`` sidecar stores
    ~bits/8 bytes per file, and ``read_table(where=[(col, "=", v)])``
    drops every file whose filter provably lacks ``v``.  False positives
    only ever read extra files; false negatives are impossible because
    build and probe hash THE SAME canonical representation (the column's
    value cast to its own type, then to string — Spark's ``xxhash64`` is
    type-sensitive, so probing an int literal against a bigint column
    must not hash the 32-bit encoding).  Size ``bits`` at ~10× the
    expected distinct values per file for ~1% FPP.

    Backfills a committed version (the newest by default); from then on
    EVERY writer carries the filters forward — hardlinked files reuse
    their filter bytes by relpath, only new/rewritten files are scanned
    (O(touched) per commit), and the registration rides in commit meta
    like ``stats_cols``, so a continuously-written table keeps its
    point-lookup skipping without ever re-scanning the whole column."""
    spec = {c: {"bits": int(bits), "k": int(k_hashes)} for c in cols}
    return _write_bloom_cols(spark, _version_info(root, version), spec)


def _bloom_probe_bits(spark: SparkSession, schema, col: str, vals: list,
                      bits: int, k_hashes: int) -> list[list[int]] | None:
    """Each literal's bit positions under the SAME canonicalization the
    build used — evaluated over a one-row ``VALUES`` relation, which
    Spark folds into a local relation and collects without a job
    (chunked at 256 values to bound plan width) — or None when any
    literal can't be cast to the column's type (then bloom pruning
    abstains for the whole predicate)."""
    from pyspark.sql import functions as F

    try:
        dt = schema[col].dataType
    except KeyError:
        return None
    out: list[list[int]] = []
    for start in range(0, len(vals), 256):
        chunk = vals[start:start + 256]
        row = spark.sql("VALUES (1)").select(*[
            F.pmod(F.xxhash64(F.lit(v).cast(dt).cast("string"), F.lit(i)),
                   F.lit(bits)).cast("int").alias(f"b_{j}_{i}")
            for j, v in enumerate(chunk) for i in range(k_hashes)]).head()
        if row is None or any(x is None for x in row):
            return None  # a literal cast to the column type is NULL
        out.extend([row[j * k_hashes + i] for i in range(k_hashes)]
                   for j in range(len(chunk)))
    return out


def _inherited_txns(info: dict | None) -> dict:
    """Per-streaming-query transaction watermarks ({txn_app: batch_id})
    from the base version's commit meta — the Delta SetTransaction shape.
    EVERY writer carries this map forward (not just streaming ones):
    replay detection inspects only the newest commit, so a compaction or
    upsert interleaved between a stream's commit and its checkpoint
    advance must not erase the stream's watermark — that would let a
    replayed micro-batch append its rows twice."""
    if info is None:
        return {}
    meta = info.get("meta", {})
    txns = dict(meta.get("txns", {}) or {})
    # fold in legacy single-slot keys from pre-txns tables
    if meta.get("txn_app") is not None and meta.get("batch_id") is not None:
        txns.setdefault(meta["txn_app"], meta["batch_id"])
    return txns


def _inherited_constraints(info: dict | None) -> dict:
    """The table's registered CHECK constraints ({name: sql_expr}) from
    the base version's commit meta — every writer carries them forward
    and enforces them on the rows it introduces."""
    if info is None:
        return {}
    return dict(info.get("meta", {}).get("constraints", {}) or {})


def _enforce_constraints(df: DataFrame, constraints: dict) -> None:
    """Reject a write batch that violates a registered CHECK constraint.
    SQL-standard semantics: a row violates only when the expression is
    FALSE — NULL passes (add an explicit ``col IS NOT NULL`` constraint
    for NOT NULL).  Cost: one column-pruned pass over the BATCH being
    written (never the whole table — base rows passed when they were
    written, the inductive invariant Delta uses), short-circuited by
    LIMIT 1."""
    if not constraints:
        return
    from pyspark.sql import functions as F

    for name, expr in constraints.items():
        bad = df.filter(~F.expr(expr)).limit(1).collect()
        if bad:
            raise ValueError(
                f"CHECK constraint {name!r} ({expr}) violated by the "
                f"write batch, e.g. {bad[0].asDict()}")


def _replayed_batch(cur: dict | None, txn_app: str, batch_id: int) -> bool:
    """The Delta txnAppId+txnVersion idempotence check: a micro-batch is a
    REPLAY (skip it) only when the table's last commit came from the SAME
    streaming query identity (its checkpoint path) and already covers this
    batch_id.  A batch_id at-or-below the watermark from a DIFFERENT
    identity is not a replay — it is a restart against an existing table
    with a FRESH checkpoint (batch ids restart at 0), where skipping would
    silently drop data; raise so the caller reuses the original checkpoint
    or targets a new table root."""
    txns = _inherited_txns(cur)
    done = txns.get(txn_app)
    if done is not None:
        return batch_id <= done
    # no watermark for THIS identity; legacy tables recorded batch_id
    # without an identity — keep their old skip behavior
    meta = (cur or {}).get("meta", {})
    if meta.get("txn_app") is None and meta.get("batch_id") is not None:
        return batch_id <= meta["batch_id"]
    other = max(txns.values(), default=None)
    if other is not None and batch_id <= other:
        raise ValueError(
            f"batch {batch_id} <= committed watermark {other}, but the "
            f"table's commits belong to streaming queries "
            f"{sorted(txns)!r}, not {txn_app!r} — a fresh checkpoint "
            f"restarts batch ids at 0, so skipping would silently lose "
            f"data; reuse the original checkpoint directory or write to "
            f"a new table root")
    return False


def alter_table_constraints(spark: SparkSession, root: str,
                            add: dict | None = None,
                            drop: list[str] | None = None,
                            keep_versions: int | None = None) -> int:
    """Register/unregister CHECK constraints on a manifest table — the
    Delta ``ALTER TABLE ADD CONSTRAINT`` verb.  Constraints are SQL
    boolean expressions over the table's columns, stored in commit meta,
    inherited by every subsequent upsert/delete/merge/compaction/stream
    commit, and enforced on each writer's batch (violation = the write
    raises before any commit).  Adding a constraint first verifies the
    base snapshot satisfies it (one scan, LIMIT 1 short-circuit) — an
    invalid table can't be "blessed"; a lost commit race re-verifies on
    the winner's snapshot.  The change commits as a metadata-only
    version: every data file HARDLINKS into the new version, so the
    commit costs O(files) metadata ops and zero data bytes.  Returns the
    committed version."""
    def write(info, data_dir):
        base = _require_base(info, root)
        cons = _inherited_constraints(info)
        for name in (drop or []):
            cons.pop(name, None)
        if add:
            _enforce_constraints(_read_version(spark, base), dict(add))
            cons.update(add)
        return _Written(None, {"constraints": cons}, link_except=())

    # a metadata-only verb must not shrink retention unless asked to
    return _commit(spark, root, "alter_table_constraints", write,
                   keep_versions=keep_versions)


def _inherited_stats_cols(info: dict | None,
                          stats_cols: list[str] | None) -> list[str]:
    """The column set a new version should stat: an explicit request
    wins (``[]`` disables), else whatever the base version statted —
    commit meta first, sidecar header as the backfill fallback."""
    if stats_cols is not None:
        return list(stats_cols)
    if info is None:
        return []
    meta_cols = list(info.get("meta", {}).get("stats_cols", []) or [])
    return meta_cols or filestats.stats_cols_of(info["data_dir"])


def _finalize_stats(data_dir: str, scols: list[str],
                    columns: list[str],
                    base_dir: str | None = None) -> dict:
    """Write the sidecar for a fully-written (pre-commit) version dir and
    return the commit-meta fragment; columns dropped by the write are
    dropped from the stat set rather than erroring.  ``base_dir`` turns
    on hardlink carry-forward (see ``filestats.build_stats_table``)."""
    present = [c for c in scols if c in columns]
    if not present:
        return {}
    filestats.write_stats_parquet(data_dir, present, base_dir=base_dir)
    return {"stats_cols": present}


def _read_pruned(spark: SparkSession, info: dict,
                 where: list[tuple]) -> DataFrame:
    """The pruned scan behind ``read_table(where=…)``: driver-side file
    elimination from the parquet sidecars + partition path segments,
    then a Spark read of ONLY the survivors (``basePath`` keeps
    partition columns), with the full predicate re-applied as the
    residual filter."""
    from pyspark.sql import functions as F

    for p in where:
        if len(p) != 3 or p[1] not in _WHERE_OPS:
            raise ValueError(
                f"where predicates are (column, op, literal) with op in "
                f"{_WHERE_OPS}; got {p!r}")
        if p[1] == "in" and not isinstance(p[2], (list, tuple, set)):
            raise ValueError(
                f"'in' takes a list/tuple/set of literals; got {p[2]!r}")
    where = [(c, op, list(v) if op == "in" else v)
             for c, op, v in where]

    def _pred(col, op, val):
        c = F.col(col)
        if op == "isnull":
            return c.isNull()
        if op == "isnotnull":
            return c.isNotNull()
        if op == "in":
            return c.isin(val)
        return _COMPARE_OPS[op](c, F.lit(val))

    resid = None
    for col, op, val in where:
        p = _pred(col, op, val)
        resid = p if resid is None else (resid & p)

    data_dir = info["data_dir"]
    if not os.path.exists(filestats.stats_parquet_path(data_dir)) and any(
            f in ("_stats.json", "_bloom.json")
            or (f.startswith(("_statscol-", "_bloom-"))
                and f.endswith(".json"))
            for f in os.listdir(data_dir)):
        warnings.warn(
            f"{data_dir} has only pre-parquet JSON skipping sidecars, "
            f"which readers ignore: stats keep every file.  Run "
            f"upgrade_table_stats on this version to restore stats and "
            f"bloom pruning.", stacklevel=3)

    schema = _version_schema(info)

    def _bits_fn(col, vals, bits, k):
        return _bloom_probe_bits(
            spark, _read_version(spark, info).schema if schema is None
            else schema, col, vals, int(bits), int(k))

    survivors, total = filestats.prune_with_stats_parquet(
        data_dir, where, _bits_fn)
    if not survivors:
        # nothing can match: an empty frame with the table's full schema
        return _read_version(spark, info).filter(resid).limit(0)
    if len(survivors) == total:
        return _read_version(spark, info).filter(resid)
    return _read_version(spark, info, files=survivors).filter(resid)


def _link_tree(src_root: str, dst_root: str, skip=()) -> None:
    """Hardlink every file of ``src_root`` into ``dst_root`` except those
    at or under a relpath in ``skip`` (a rewritten partition dir or a
    compacted file) and hidden/metadata files (_SUCCESS, sidecars) — the
    copy-free way to carry untouched data into a new version."""
    skip = set(skip)
    for dirpath, dirs, files in os.walk(src_root):
        rel_dir = os.path.relpath(dirpath, src_root)
        rel_dir = "" if rel_dir == "." else rel_dir
        # hidden dirs never carry: whatever a crashed tool left there
        # must not propagate into later versions by hardlink
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))
                   and os.path.join(rel_dir, d) not in skip]
        for f in files:
            rel = os.path.join(rel_dir, f)
            if f.startswith(("_", ".")) or rel in skip:
                continue
            dst = os.path.join(dst_root, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            if not os.path.exists(dst):
                os.link(os.path.join(dirpath, f), dst)


class _Written(NamedTuple):
    """What a commit's ``write`` step produced.  ``columns``: the new
    version's columns, which bound the carried stats/bloom columns (None
    carries every one).  ``meta``: extra commit meta; a ``constraints``
    entry replaces the inherited set.  ``link_except``: None hardlinks
    no base file, otherwise every base file except those at or under
    these relpaths (``()`` links all)."""
    columns: list[str] | None
    meta: dict = {}
    link_except: tuple | list | None = None


def _require_base(info: dict | None, root: str) -> dict:
    """The base version's commit payload, for writers that need a
    table."""
    if info is None:
        raise FileNotFoundError(f"no committed version under {root!r}")
    return info


def _touched_partitions(frame: DataFrame, partition_by: list[str]):
    """(relpaths, filter) of the partitions ``frame`` touches, or None
    when it touches none.  The distinct partition values are collected
    driver-side (few by the incremental contract); the literal filter,
    not a join, is what reaches Catalyst's partition pruning, so
    untouched partitions are never read."""
    from pyspark.sql import functions as F

    from .readers import _hive_part_path

    touched = frame.select(*partition_by).distinct().collect()
    if not touched:
        return None
    cond = None
    for r in touched:
        c = None
        for col in partition_by:
            t = (F.col(col).isNull() if r[col] is None
                 else (F.col(col) == F.lit(r[col])))
            c = t if c is None else (c & t)
        cond = c if cond is None else (cond | c)
    return [_hive_part_path(partition_by, r) for r in touched], cond


def _commit(spark: SparkSession, root: str, verb: str, write, *,
            max_retries: int = 5, keep_versions: int | None = None,
            stats_cols: list[str] | None = None,
            txn: tuple[str, int] | None = None) -> int | None:
    """The optimistic commit every writer goes through.  Each attempt
    reads the newest commit ``info`` (None: empty table), makes version
    N+1's data dir and calls ``write(info, data_dir)``, which writes only
    this version's own rows and returns a :class:`_Written` — or None
    when there is nothing to commit, and then the base version returns.
    Then, in order: the CHECK constraints are enforced on the written
    rows (before any hardlink, so the check reads O(written)); base files
    hardlink in; the version's schema is recorded as ``meta["schema"]``
    (``StructType.json()``, exactly what ``spark.read.parquet`` of the
    data dir infers, derived without a job — see ``_schema_meta`` — so
    no later read of this version infers it); the txn watermarks,
    constraints, stats columns (``stats_cols`` overrides the inherited
    set, ``[]`` stops it) and bloom filters of the base carry over; the
    version is claimed.  A lost claim removes the data dir and reruns on
    the winner's table; any other failure removes it and re-raises.  ``txn=(txn_app, batch_id)``
    guards a streaming micro-batch: every attempt first checks
    ``_replayed_batch`` (a replay commits nothing) and the commit
    advances that watermark.  ``keep_versions`` vacuums after the commit
    (None: no vacuum).  Returns the committed version."""
    for _attempt in range(max_retries):
        info = latest_commit_info(root)
        base_version = None if info is None else info["version"]
        if txn is not None and _replayed_batch(info, *txn):
            return base_version
        version = 1 if info is None else base_version + 1
        data_dir = new_version_dir(root, version)
        try:
            out = write(info, data_dir)
            if out is None:
                shutil.rmtree(data_dir, ignore_errors=True)
                return base_version
            meta = dict(out.meta)
            cons = meta.pop("constraints", None)
            if cons is None:
                cons = _inherited_constraints(info)
            written = next(_iter_data_files(data_dir), (None, None))[1]
            if cons and written is not None:
                # the written files' own columns; partition columns are
                # discovered from their paths
                own = {"data_dir": data_dir,
                       "meta": {"schema": _footer_schema(written)}}
                _enforce_constraints(_read_version(spark, own), cons)
            base_dir = None if info is None else info["data_dir"]
            if base_dir is not None and out.link_except is not None:
                _link_tree(base_dir, data_dir, out.link_except)
            meta.update(_schema_meta(spark, data_dir, written, info))
            scols = _inherited_stats_cols(info, stats_cols)
            meta.update(_finalize_stats(
                data_dir, scols, scols if out.columns is None
                else out.columns, base_dir=base_dir))
            meta.update(_finalize_bloom(
                spark, {"data_dir": data_dir, "meta": meta}, info,
                columns=out.columns))
            if cons:
                meta["constraints"] = cons
            txns = _inherited_txns(info)
            if txn is not None:
                txns[txn[0]] = txn[1]
                meta.update(txn_app=txn[0], batch_id=txn[1])
            if txns:
                meta["txns"] = txns
            commit_version(root, version, data_dir, meta=meta or None)
        except CommitConflict:
            shutil.rmtree(data_dir, ignore_errors=True)
            continue  # rerun on the winner's table
        except BaseException:
            shutil.rmtree(data_dir, ignore_errors=True)
            raise
        if keep_versions is not None:
            vacuum(root, keep=keep_versions)
        return version
    raise RuntimeError(
        f"{verb} lost {max_retries} commit races on {root!r} — writer "
        f"contention this high needs a coordinating service")


def manifest_upsert(spark: SparkSession, root: str, updates: DataFrame,
                    key_cols: list[str],
                    partition_by: list[str] | None = None,
                    max_retries: int = 5, keep_versions: int = 2,
                    schema_evolution: bool = False,
                    stats_cols: list[str] | None = None) -> int:
    """Keyed upsert through the manifest protocol; returns the committed
    version.  Same merge semantics as ``merge_upsert``: update rows
    replace same-key rows, new keys append.

    ``stats_cols`` opts the table into data skipping: the new version
    gets a per-file min/max sidecar over those columns (footer reads
    only), ``read_table(where=…)`` prunes with it, and later commits
    inherit the column set from the base version (pass ``[]`` to stop).

    Concurrency: optimistic — the merge plans against version N and
    commits N+1 with an atomic claim; losing a race re-merges against the
    winner's table (bounded by ``max_retries``).  Readers are never
    blocked and never see a torn table.  Partition-granular when
    ``partition_by`` is given: the base scan prunes to touched partitions
    (literal filters → Catalyst partition pruning), only touched
    partitions are rewritten, and untouched partition files HARDLINK into
    the new version — O(touched) write volume and disk, byte-identical
    untouched data.  CONTRACT: a key's partition-column values must be
    stable across updates — a key that "moves" partitions would leave
    its old row behind in an untouched partition.

    ``schema_evolution=True`` lets the update batch ADD columns: the
    merge unions by name with missing columns nulled, and because the
    table-granular path rewrites the whole table per version, every
    committed version has ONE uniform (evolved) schema — no mergeSchema
    reads, no mixed-footer versions.  Unsupported with ``partition_by``
    (hardlinked untouched partitions would keep the old schema inside
    the same version — a mixed-schema snapshot readers would need
    mergeSchema for; evolve partitioned tables with a full rewrite).
    The table-granular rewrite (no ``partition_by``) does not preserve
    per-file clustering — Spark's scan packing decides which key ranges
    share an output file — so stats pruning may keep more files than
    before while results stay exact."""
    from pyspark.sql import functions as F

    if schema_evolution and partition_by:
        raise ValueError(
            "schema_evolution needs a full-table rewrite per version; "
            "hardlinked untouched partitions would produce a mixed-schema "
            "snapshot — evolve partitioned tables without partition_by or "
            "rewrite them wholesale")

    def write(info, data_dir):
        if info is None:
            w = updates.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(data_dir)
            return _Written(updates.columns)
        base = _read_version(spark, info)
        keys = F.broadcast(updates.select(*key_cols).distinct())
        if partition_by:
            touched = _touched_partitions(updates, partition_by)
            if touched is None:
                return None
            rel_paths, cond = touched
            merged = (base.filter(cond).join(keys, key_cols, "left_anti")
                      .unionByName(updates))
            merged.write.mode("overwrite").partitionBy(*partition_by) \
                .parquet(data_dir)
            return _Written(merged.columns, link_except=rel_paths)
        merged = base.join(keys, key_cols, "left_anti") \
                     .unionByName(updates,
                                  allowMissingColumns=schema_evolution)
        merged.write.mode("overwrite").parquet(data_dir)
        return _Written(merged.columns)

    return _commit(spark, root, "manifest_upsert", write,
                   max_retries=max_retries, keep_versions=keep_versions,
                   stats_cols=stats_cols)


def table_detail(spark: SparkSession, root: str) -> DataFrame:
    """One-row summary of the CURRENT snapshot — the DESCRIBE DETAIL
    verb: version + commit instant, file/byte/row counts (parquet
    FOOTER metadata only, row data never read), and the table's
    registered accelerations (stats columns, bloom columns, CHECK
    constraints, last OPTIMIZE's zorder columns).  Driver-side metadata
    walk, O(files); the row counts come from footer ``num_rows`` so the
    summary costs the same as a stats backfill, not a scan."""
    import pyarrow.parquet as pq

    info = latest_commit_info(root)
    if info is None:
        raise FileNotFoundError(f"no committed version under {root!r}")
    data_dir = info["data_dir"]
    n_files = total_bytes = n_rows = 0
    for _rel, p in _iter_data_files(data_dir):
        n_files += 1
        total_bytes += os.path.getsize(p)
        n_rows += pq.ParquetFile(p).metadata.num_rows
    meta = info.get("meta", {})
    # a bloom sidecar or a commit-meta registration — either means the
    # column is bloom-indexed
    bloom_cols = sorted(set(filestats.bloom_parquet_specs(data_dir))
                        | set(meta.get("bloom", {}) or {}))
    cdir = _commits_dir(root)
    fname = f"v{info['version']:010d}.json"
    # meta first, sidecar header as the backfill fallback — a table whose
    # stats arrived via write_table_stats (sidecar only, commit meta
    # untouched) IS actively skipping, and DESCRIBE DETAIL must say so;
    # same resolution order the writers use (_inherited_stats_cols)
    stats_cols = list(meta.get("stats_cols", []) or []) \
        or filestats.stats_cols_of(data_dir)
    row = (int(info["version"]),
           float(_commit_ts(cdir, fname, info)),
           int(n_files), int(total_bytes), int(n_rows),
           stats_cols,
           bloom_cols,
           json.dumps(meta.get("constraints", {}) or {}, sort_keys=True),
           list(meta.get("zorder_by", []) or []))
    return spark.createDataFrame(
        [row],
        "version long, ts double, num_files long, size_bytes long, "
        "num_rows long, stats_cols array<string>, "
        "bloom_cols array<string>, constraints string, "
        "zorder_by array<string>")


def table_history(spark: SparkSession, root: str) -> DataFrame:
    """The commit log as a DataFrame (version, data_dir, available, meta
    JSON) — newest first.  ``available=false`` marks versions whose data
    was vacuumed (the commit file remains as audit trail).  Driver-side
    directory listing: the log is metadata, never row data."""
    cdir = _commits_dir(root)
    rows = []
    if os.path.isdir(cdir):
        for f in sorted(os.listdir(cdir), reverse=True):
            if not (f.startswith("v") and f.endswith(".json")):
                continue
            try:
                with open(os.path.join(cdir, f)) as fh:
                    payload = json.load(fh)
            except (ValueError, OSError):
                continue
            data_dir = os.path.join(root, payload["data_dir"])
            rows.append((payload["version"], payload["data_dir"],
                         os.path.isdir(data_dir),
                         float(_commit_ts(cdir, f, payload)),
                         json.dumps(payload.get("meta", {}),
                                    sort_keys=True)))
    return spark.createDataFrame(
        rows, "version long, data_dir string, available boolean, "
              "ts double, meta string")


def manifest_delete(spark: SparkSession, root: str, keys: DataFrame,
                    key_cols: list[str],
                    partition_by: list[str] | None = None,
                    max_retries: int = 5, keep_versions: int = 2) -> int:
    """Keyed delete through the manifest protocol (the tombstone half of
    CDC apply): rows matching ``keys`` disappear from the next committed
    version; returns that version.  Same optimistic concurrency and
    snapshot guarantees as ``manifest_upsert``.

    Partition-granular when ``partition_by`` is given — ``keys`` must
    then CARRY the partition columns (a delete without them would have to
    rewrite every partition); only partitions containing deleted keys are
    rewritten, untouched partition files hardlink into the new version."""
    from pyspark.sql import functions as F

    if partition_by:
        missing = [c for c in partition_by if c not in keys.columns]
        if missing:
            raise ValueError(
                f"partition-granular delete needs the partition columns "
                f"{missing} on the keys frame (otherwise every partition "
                f"would be rewritten — pass partition_by=None for that)")

    def write(info, data_dir):
        base = _read_version(spark, _require_base(info, root))
        k = F.broadcast(keys.select(*key_cols).distinct())
        if partition_by:
            touched = _touched_partitions(keys, partition_by)
            if touched is None:
                return None
            rel_paths, cond = touched
            base.filter(cond).join(k, key_cols, "left_anti").write \
                .mode("overwrite").partitionBy(*partition_by) \
                .parquet(data_dir)
            return _Written(base.columns, link_except=rel_paths)
        base.join(k, key_cols, "left_anti").write.mode("overwrite") \
            .parquet(data_dir)
        return _Written(base.columns)

    return _commit(spark, root, "manifest_delete", write,
                   max_retries=max_retries, keep_versions=keep_versions)


def _tree_mtime(path: str) -> float:
    """Newest mtime anywhere under ``path`` (the dir itself included) —
    the liveness signal for orphan reclamation: a writer's tasks keep
    touching files deep in the tree long after the top dir's mtime."""
    newest = os.path.getmtime(path)
    for dirpath, _dirs, names in os.walk(path):
        for f in names:
            try:
                newest = max(newest,
                             os.path.getmtime(os.path.join(dirpath, f)))
            except OSError:
                continue
    return newest


def vacuum(root: str, keep: int = 2, keep_log: int | None = None,
           orphan_retention_s: float = 3600.0) -> int:
    """Delete data dirs of versions older than the newest ``keep``, plus
    orphan data dirs no commit file references (crashed/conflicted
    writers).  Returns the number of data dirs removed.  ``keep`` is the
    retention window for in-flight readers — a reader holding a vacuumed
    version fails like any expired snapshot.

    Orphan reclamation is CONSERVATIVE, because every upsert/delete/
    compact/streaming commit vacuums automatically and a concurrent
    writer is mid-flight between ``new_version_dir`` and
    ``commit_version`` exactly then: an uncommitted dir is removed only
    once the NEWEST mtime anywhere in its tree is older than
    ``orphan_retention_s`` (a crashed writer; the Delta VACUUM retention
    shape).  That covers lost-race dirs too — their writer cleans up
    after itself on ``CommitConflict``, so reclaiming them early would
    only turn a clean retry into a mid-write IO failure — and the
    tree-deep mtime means a long-running write (hours at real scale)
    never ages into reclamation while its tasks are still landing
    files.

    Commit FILES are kept by default (tiny, and they are the audit
    trail) — but a streaming view committing every micro-batch writes
    millions of them over months, and an O(|log|) directory listing per
    read is the kind of creeping cost a 100 TB table can't carry, so
    ``keep_log`` bounds the log: a commit file older than the newest
    ``keep_log`` is deleted only when the version is unreadable anyway
    (its data dir left the retention window) or a checkpoint payload
    still covers it (time travel then reads the checkpoint) — the
    resolvability invariant: every readable version stays resolvable.
    Time-travel reach shrinks accordingly, exactly like checkpointing
    a WAL."""
    cdir = _commits_dir(root)
    vdir = os.path.join(root, _VERSIONS)
    if not os.path.isdir(vdir):
        return 0
    # "committed" means referenced by a v*.json commit file OR a
    # checkpoint-v*.json payload: vacuum(keep_log) may prune a
    # checkpoint-covered version's commit file while the version stays
    # readable through the checkpoint (the resolvability invariant), so
    # its data dir must keep counting as committed here — otherwise the
    # NEXT vacuum would age it out as an orphan and silently reclaim a
    # version inside the retention window
    live: dict[str, int] = {}
    if os.path.isdir(cdir):
        for f in os.listdir(cdir):
            if not f.endswith(".json") or not (
                    f.startswith("v") or f.startswith("checkpoint-v")):
                continue
            try:
                with open(os.path.join(cdir, f)) as fh:
                    meta = json.load(fh)
                live[os.path.basename(meta["data_dir"])] = \
                    meta["version"]
            except (ValueError, KeyError, OSError):
                continue
    keep_names = {n for n, _v in sorted(live.items(), key=lambda kv: kv[1])
                  [-max(keep, 1):]}
    now = time.time()
    removed = 0
    for name in os.listdir(vdir):
        if name in keep_names:
            continue
        path = os.path.join(vdir, name)
        if name not in live:
            # uncommitted dir: only reclaim a PROVABLY dead one — past
            # the crash-retention age (see docstring).  A lost-race dir
            # (version number already committed by another writer) can
            # never commit, but its WRITE may still be running: the
            # loser cleans up after itself on CommitConflict, so
            # deleting it early would only turn its clean retry into an
            # opaque mid-write IO failure.  Age is the NEWEST mtime in
            # the tree, not the top dir's — Spark stamps the top dir at
            # job start, and a long write (hours at real scale) must not
            # age into reclamation while its tasks are still landing
            # files in _temporary/ subdirs.
            try:
                age = now - _tree_mtime(path)
            except OSError:
                continue  # racing writer just removed/renamed it
            if age < orphan_retention_s:
                continue  # possibly an in-progress writer: keep
        shutil.rmtree(path, ignore_errors=True)
        removed += 1
    if keep_log is not None and live:
        cut = sorted(live.values())[-max(keep_log, 1):][0]
        data_exists = {v: os.path.isdir(os.path.join(vdir, n))
                       for n, v in live.items()}
        ckpts = []
        for f in os.listdir(cdir):
            if f.startswith("checkpoint-v") and f.endswith(".json"):
                try:
                    ckpts.append(int(f[len("checkpoint-v"):-5]))
                except ValueError:
                    pass
        newest_ckpt = max(ckpts, default=None)
        covered = set(ckpts)
        for f in os.listdir(cdir):
            if not f.endswith(".json"):
                continue
            if f.startswith("checkpoint-v"):
                # bound checkpoints with the log but ALWAYS keep the
                # newest (_last_checkpoint points at it) and any one
                # still serving a live data version whose commit file
                # this same pass prunes
                try:
                    v = int(f[len("checkpoint-v"):-5])
                except ValueError:
                    continue
                if v < cut and v != newest_ckpt and                         not data_exists.get(v, False):
                    try:
                        os.unlink(os.path.join(cdir, f))
                    except OSError:
                        pass
                continue
            if f.startswith("v"):
                try:
                    v = int(f[1:-5])
                except ValueError:
                    continue
                # resolvability invariant: a commit file may go only if
                # its data is already outside the retention window (the
                # version is unreadable anyway) or a checkpoint payload
                # still covers it (time travel reads the checkpoint)
                if v < cut and (not data_exists.get(v, False)
                                or v in covered):
                    try:
                        os.unlink(os.path.join(cdir, f))
                    except OSError:
                        pass
    return removed


def compact_table(spark: SparkSession, root: str, target_bytes: int,
                  min_file_bytes: int | None = None,
                  max_retries: int = 5, keep_versions: int = 2,
                  zorder_by: list[str] | None = None) -> int:
    """Small-file compaction as a committed version — the OPTIMIZE verb:
    files under ``min_file_bytes`` (default ``target_bytes // 2``) are
    rewritten into ~``target_bytes`` outputs, files already big enough
    HARDLINK into the new version untouched, and the swap is one atomic
    commit — readers see either the fragmented snapshot or the compacted
    one, never a mix.  Row data is byte-stable (same rows, fewer files);
    returns the committed version, or the current one if nothing needs
    compacting.

    Partition-aware without needing the partition spec: small files are
    grouped by their directory inside the version (the Hive ``col=value``
    path IS the partition identity), each group rewrites independently —
    embarrassingly parallel across partitions, and partition columns
    never need decoding because they live in the directory name that is
    preserved verbatim.

    ``zorder_by`` turns the rewrite into Delta's OPTIMIZE ZORDER BY: the
    rewritten rows range-cluster on their Morton key
    (sources/layout.py ``zorder_key``) so the compacted files carry
    tight per-file min/max on every clustered column — the data-skipping
    payoff measured by ``zorder_skipping_stats`` — while HARDLINKED big
    files keep their existing layout (re-cluster them by lowering
    ``min_file_bytes``).  Same rows either way; only the file layout of
    the rewritten groups changes."""
    if min_file_bytes is None:
        min_file_bytes = target_bytes // 2

    def write(info, data_dir):
        base = _require_base(info, root)
        base_dir = base["data_dir"]
        groups: dict[str, list[tuple[str, int]]] = {}
        for rel, p in _iter_data_files(base_dir):
            size = os.path.getsize(p)
            if size < min_file_bytes:
                groups.setdefault(os.path.dirname(rel), []).append(
                    (rel, size))
        groups = {d: fs for d, fs in groups.items() if len(fs) >= 2}
        if not groups:
            return None
        for rel_dir, fs in groups.items():
            n_out = max(1, (sum(s for _r, s in fs)
                            + target_bytes - 1) // target_bytes)
            # the rewrite holds only the data columns: the partition
            # columns stay in the preserved directory name
            df = _read_version(spark, base, files=[r for r, _s in fs]) \
                .drop(*[seg.partition("=")[0]
                        for seg in rel_dir.split(os.sep) if "=" in seg])
            if zorder_by:
                from .layout import zorder_key

                zk = zorder_key(df, list(zorder_by))
                df = (zk.repartitionByRange(n_out, "zkey")
                      .sortWithinPartitions("zkey")
                      .drop("zkey", *[f"_b_{c}" for c in zorder_by]))
            else:
                df = df.coalesce(n_out)
            df.write.mode("append").parquet(
                os.path.join(data_dir, rel_dir) if rel_dir else data_dir)
        compacted = [r for fs in groups.values() for r, _s in fs]
        # everything not rewritten (big files + small singletons) links
        return _Written(None, {"compacted_files": len(compacted),
                               "compacted_dirs": len(groups),
                               "zorder_by": list(zorder_by or [])},
                        link_except=compacted)

    return _commit(spark, root, "compact_table", write,
                   max_retries=max_retries, keep_versions=keep_versions)


def manifest_merge(spark: SparkSession, root: str, source: DataFrame,
                   key_cols: list[str],
                   when_matched_update: str | None = "true",
                   when_matched_delete: str | None = None,
                   when_not_matched_insert: str | None = "true",
                   max_retries: int = 5, keep_versions: int = 2) -> int:
    """Conditional MERGE through the manifest protocol — the Delta/Iceberg
    ``MERGE INTO`` verb the plain replace-by-key ``manifest_upsert`` and
    delete-by-key ``manifest_delete`` can't express, and the shape a CDC
    consumer wants for applying ``pipeline.cdc.snapshot_diff`` /
    ``table_changes`` output:

    - WHEN MATCHED AND ``when_matched_delete`` THEN DELETE
    - WHEN MATCHED AND ``when_matched_update`` THEN UPDATE (take source row)
    - WHEN MATCHED (neither condition) → keep the target row
    - WHEN NOT MATCHED AND ``when_not_matched_insert`` THEN INSERT
    - target-only keys are always kept.

    Conditions are SQL boolean expressions over two struct columns:
    ``tgt.<col>`` (the target row) and ``src.<col>`` (the source row) —
    e.g. ``"src.change_type = 'delete'"`` or ``"src.v > tgt.v"``; ``None``
    disables a clause (delete checks FIRST, like Delta's clause order).
    ``source`` must carry ``key_cols``; non-key source columns become the
    written row on update/insert, so the source schema (minus any
    condition-only columns the caller drops via the conditions themselves)
    must match the table's.

    Plan: ONE full-outer equi-join on the key (each side shuffles once,
    fingerprint-free — the conditions need real columns), a map-only CASE
    over the two structs, and the standard write-data-first + O_EXCL
    commit.  Same optimistic concurrency and snapshot guarantees as
    ``manifest_upsert``; returns the committed version.

    Idempotent by construction for changelog application: re-applying the
    same ``snapshot_diff`` output yields bit-identical rows (deletes hit
    absent keys = no match = kept-nothing; updates rewrite the same
    values; inserts match and update to the same values)."""
    from pyspark.sql import functions as F

    missing = [k for k in key_cols if k not in source.columns]
    if missing:
        raise ValueError(f"merge source is missing key columns {missing}")

    def write(info, data_dir):
        base = _read_version(spark, _require_base(info, root))
        out_cols = base.columns
        data_cols = [c for c in source.columns if c not in key_cols]
        t = base.select(
            *key_cols,
            F.struct(*[F.col(c) for c in base.columns]).alias("tgt"))
        s = source.select(
            *key_cols,
            F.struct(*[F.col(c) for c in source.columns]).alias("src"))
        j = t.join(s, key_cols, "full_outer")
        upd = F.expr(when_matched_update) if when_matched_update else F.lit(False)
        del_ = F.expr(when_matched_delete) if when_matched_delete else F.lit(False)
        ins = F.expr(when_not_matched_insert) if when_not_matched_insert \
            else F.lit(False)
        missing_src = [c for c in out_cols
                       if c not in data_cols and c not in key_cols]
        writes_source_rows = bool(when_matched_update
                                  or when_not_matched_insert)
        if missing_src and writes_source_rows:
            raise ValueError(
                f"merge source lacks table columns {missing_src} needed to "
                f"build updated/inserted rows")
        # a delete-only merge may carry a keys+condition-only source: the
        # source row is never written, so don't even build the struct
        src_row = F.struct(*[
            F.col(k) if k in key_cols else F.col(f"src.{k}")
            for k in out_cols]) if writes_source_rows else F.lit(None)
        matched = F.col("tgt").isNotNull() & F.col("src").isNotNull()
        result = (
            F.when(matched & del_, F.lit(None))
            .when(matched & upd, src_row)
            .when(F.col("tgt").isNotNull(), F.col("tgt"))
            .when(F.col("src").isNotNull() & ins, src_row)
            .otherwise(F.lit(None)))
        merged = (j.select(result.alias("_r"))
                  .filter(F.col("_r").isNotNull())
                  .select("_r.*"))
        merged.write.mode("overwrite").parquet(data_dir)
        return _Written(out_cols, {"merge_on": list(key_cols)})

    return _commit(spark, root, "manifest_merge", write,
                   max_retries=max_retries, keep_versions=keep_versions)


def table_changes(spark: SparkSession, root: str, key_cols: list[str],
                  from_version: int, to_version: int | None = None,
                  compare_cols: list[str] | None = None) -> DataFrame:
    """Row-level changelog between two committed versions — the CDC feed
    a downstream consumer tails instead of re-diffing full snapshots by
    hand: one row per key in either version with change_type in
    {'insert','delete','update','unchanged'} (``pipeline.cdc.
    snapshot_diff`` over ``read_table`` time travel; ``to_version``
    defaults to the newest commit).  Both versions must be inside the
    vacuum retention window.

    Plan: two column-pruned fingerprint scans + ONE full-outer equi-join
    on the key — no other shuffle, nothing driver-side."""
    from ..pipeline.cdc import snapshot_diff

    old = read_table(spark, root, version=from_version)
    new = read_table(spark, root, version=to_version)
    return snapshot_diff(old, new, key_cols, compare_cols)

"""Sources — ``read-csv`` parity plus the Parquet reader the test data uses.

Reference: ``read-csv`` (main.rs:570-578, reg :521) = DataFusion
``CsvReadOptions::new()`` defaults: header row true, schema inferred from a
sample, comma delimiter.  Spark equivalent is exact.

No write/sink API is exposed in the reference (nothing in main.rs:478-583);
``write_parquet`` here is a flagged extension so pipelines can persist.

Scale notes: CSV schema inference is a full extra scan of the sampled files —
at 100 TB always pass an explicit schema (supported via ``schema=``).  Parquet
scans get predicate pushdown + column pruning from Catalyst for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

__all__ = ["read_csv", "read_csv_permissive", "read_json", "read_orc",
           "read_parquet", "load_tables",
           "write_parquet", "write_json", "write_csv", "write_orc", "merge_upsert",
           "TABLE_NAMES"]

TABLE_NAMES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def read_csv(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """CSV scan: header=true, inferred schema, comma delim (main.rs:570-578).

    Inference parity: DataFusion infers integer CSV columns as Int64;
    Spark's inferSchema picks IntegerType for small values, so inferred
    int columns are widened to long to match the reference's types."""
    reader = spark.read.option("header", True)
    if schema is not None:
        return reader.schema(schema).csv(path)
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    df = reader.option("inferSchema", True).csv(path)
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.ByteType, T.ShortType, T.IntegerType)):
            df = df.withColumn(f.name, F.col(f.name).cast("long"))
    return df


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """Newline-delimited JSON scan (extension beyond the reference's CSV
    surface — same inference-parity contract as read_csv): nested objects
    arrive as structs, arrays as arrays, and inferred integral columns are
    already LongType (Spark's JSON inference widens by default).

    Schemaless inference costs an extra pass over the data; pass ``schema``
    on large inputs so the scan is single-pass and partition-parallel."""
    reader = spark.read
    if schema is not None:
        return reader.schema(schema).json(path)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — Spark-native columnar alternative to parquet, with the
    same pushdown/pruning behavior (PushedFilters reach the ORC reader)."""
    return spark.read.orc(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Newline-delimited JSON sink (one object per row)."""
    df.write.mode(mode).json(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite",
              header: bool = True) -> None:
    """CSV sink with header, matching read_csv's expectations."""
    df.write.mode(mode).option("header", header).csv(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite",
              partition_by: list[str] | None = None) -> None:
    """ORC sink; supports the same partitioned layout as write_parquet."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


# Runtime-settable SQL confs this engine depends on.  Applied to whatever
# session is handed to us (the grading driver passes its own bare session,
# which would otherwise fail on TIMESTAMP(NANOS) parquet and produce
# timezone-shifted timestamps vs the UTC-naive DuckDB oracle).
_REQUIRED_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.analyzer.failAmbiguousSelfJoin": "false",
}


def ensure_session_confs(spark: SparkSession) -> None:
    """Apply ``_REQUIRED_CONFS`` to ``spark``.  A conf the session
    refuses to set (static on some deployments — the builder must set
    it) passes only when it already holds the required value; otherwise
    results would silently disagree with the UTC oracle, so this raises
    RuntimeError naming the conf."""
    for k, v in _REQUIRED_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:
            held = spark.conf.get(k, None)
            if held != v:
                raise RuntimeError(
                    f"cannot set {k}={v} on this session, which holds "
                    f"{held!r}; set it when the session is built") from exc


def _nanos_ts_columns(path: str) -> list[str]:
    """Columns stored as Arrow timestamp[ns] in a parquet file's footer."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
    except ImportError:
        return []
    first = path
    if os.path.isdir(path):
        # skip hidden/metadata siblings (the _stats.parquet / _bloom-*
        # sidecars live beside the data files but are NOT data)
        parts = [f for f in os.listdir(path)
                 if f.endswith(".parquet")
                 and not f.startswith(("_", "."))]
        if not parts:
            return []
        first = os.path.join(path, parts[0])
    try:
        schema = pq.read_schema(first)
    except (OSError, ValueError):  # unreadable sample: no conversion
        return []
    return [f.name for f in schema
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"]


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan (engine-inherited capability; Cargo.lock:2286).

    Spark has no nanosecond timestamp type; ns-timestamp columns (read as
    long via ``spark.sql.legacy.parquet.nanosAsLong``) are converted to µs
    timestamps here — integer ``div`` so the conversion is exact, matching
    DuckDB's ns→µs truncation.

    Manifest roots resolve transparently: a directory carrying a
    ``_commits/`` log (sources/manifest.py) reads as its newest committed
    snapshot, with the schema its commit recorded (no inference job), so
    readers racing a ``merge_upsert`` never see a torn table — they get
    whole version N or whole version N+1."""
    from .manifest import _read_version, is_manifest_root, latest_commit_info

    ensure_session_confs(spark)
    if os.path.isdir(path) and is_manifest_root(path):
        return _read_version(spark, latest_commit_info(path))
    return _with_micros(spark.read.parquet(path), path)


def _with_micros(df: DataFrame, path: str) -> DataFrame:
    """``df`` (read from ``path``) with each nanosecond-timestamp column
    that Spark read as long converted to a µs timestamp.  A column
    pyarrow reports as ns but Spark reads as a timestamp (INT96, Spark's
    default timestamp encoding) is left as it is."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    for c in _nanos_ts_columns(path):
        if isinstance(df.schema[c].dataType, LongType):
            df = df.withColumn(
                c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the driver's test tables (TESTDATA.md) that exist in ``sf_dir``.

    Memoized per (session, sf_dir): repeated catalog queries would otherwise
    re-read 10 parquet footers (driver-side file IO) each call.  Keyed by
    (applicationId, id(spark)): applicationId alone is shared by
    ``newSession()`` siblings (one SparkContext), so session B would get
    frames bound to session A's SQLConf (timezone/ANSI/shuffle).  id(spark)
    disambiguates siblings and cannot be reused while the entry exists —
    each cached DataFrame holds a reference to its session — while
    applicationId still guards against a stopped context's id() being
    recycled by a brand-new session."""
    try:
        app_id = spark.sparkContext.applicationId
    except Exception:  # stopped/remote-only session — don't cache
        app_id = None
    key = (app_id, id(spark), os.path.abspath(sf_dir))
    if app_id is None:
        _TABLE_CACHE.pop(key, None)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return dict(cached)
    ensure_session_confs(spark)
    out = {}
    for name in TABLE_NAMES:
        p = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(p):
            out[name] = read_parquet(spark, p)
    _TABLE_CACHE[key] = out
    return dict(out)


_TABLE_CACHE: dict[tuple[str | None, int, str], dict[str, DataFrame]] = {}


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite",
                  partition_by: list[str] | None = None) -> None:
    """Extension (no sink exists in the reference surface)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def merge_upsert(spark: SparkSession, table_dir: str, updates: DataFrame,
                 key_cols: list[str],
                 partition_by: list[str] | None = None) -> None:
    """Keyed upsert into a manifest table (CDC-style incremental corpus
    maintenance): rows in ``updates`` replace same-key rows in the table;
    new keys append.

    Versions commit through the atomic commit log in sources/manifest.py
    (``manifest_upsert``) — write the new version's data first, then
    claim the version number with an O_EXCL commit file.  Readers
    (``read_parquet`` resolves manifest roots) always see a whole
    committed snapshot, never a torn table; concurrent writers serialize
    optimistically (losers re-merge and retry).  Partition-granular when
    ``partition_by`` is given: only touched partitions are rewritten and
    untouched partition files hardlink into the new version (O(touched)
    write volume, byte-identical untouched data).  CONTRACT: a key's
    partition-column values must be stable across updates; a key that
    "moves" partitions would leave its old row behind in an untouched
    partition.  Crash before commit leaves the table untouched (the
    orphan data dir is vacuumed later); there is no crash window after
    commit — the claim IS the commit.

    An existing plain (non-manifest) parquet directory is refused rather
    than mutated: seed a fresh root, or rewrite the table into one."""
    from .manifest import is_manifest_root, manifest_upsert

    if os.path.isdir(table_dir) and not is_manifest_root(table_dir) \
            and any(not f.startswith(("_", "."))
                    for f in os.listdir(table_dir)):
        raise ValueError(
            f"{table_dir!r} is an existing plain parquet table; upserts "
            f"need a manifest root (seed a fresh dir, or rewrite the "
            f"table into one with manifest_upsert)")
    manifest_upsert(spark, table_dir, updates, key_cols,
                    partition_by=partition_by)


# Hive's escapePathName charset, verbatim (Spark ExternalCatalogUtils /
# Hive FileUtils): ONLY these characters are %XX-escaped in partition dir
# names.  Space, comma, plus, parens, '}' and non-ASCII are written
# LITERALLY — a urllib.parse.quote here would produce paths that never
# match what Spark's committer wrote, so a partition-granular upsert
# would hardlink the OLD partition alongside the rewritten one
# (duplicate/resurrected rows).  Verified against Spark 4 output.
_HIVE_ESCAPE = set('"#%\'*/:=?\\\u007f{[]^') | {chr(i) for i in range(32)}


def _hive_escape(value: str) -> str:
    return "".join(f"%{ord(ch):02X}" if ch in _HIVE_ESCAPE else ch
                   for ch in value)


def _hive_part_path(cols: list[str], row) -> str:
    """Relative ``col=value/...`` path for one touched partition.  Values
    are Hive-escaped EXACTLY the way Spark's file committer writes them
    (the Hive charset above; NULL → __HIVE_DEFAULT_PARTITION__)."""
    segs = []
    for c in cols:
        v = row[c]
        if v is None:
            segs.append(f"{c}=__HIVE_DEFAULT_PARTITION__")
        else:
            segs.append(f"{c}=" + _hive_escape(str(v)))
    return os.path.join(*segs)


def read_csv_permissive(spark: SparkSession, path: str, schema_ddl: str,
                        corrupt_col: str = "_corrupt_record") -> DataFrame:
    """CSV ingestion that SURVIVES dirty data instead of failing the job:
    PERMISSIVE mode parses what it can, nulls what it can't, and lands
    the raw offending line in ``corrupt_col`` — the quarantine-column
    pattern every web-scale ingest needs (FAILFAST kills a 100 TB load
    on line one; DROPMALFORMED silently loses data; PERMISSIVE keeps the
    evidence routable to a dead-letter sink).

    ``schema_ddl`` is the expected schema as a DDL string; the corrupt
    column is appended automatically.  Malformed rows are exactly the
    rows where ``corrupt_col`` is not null."""
    full = f"{schema_ddl}, {corrupt_col} string"
    return (spark.read
            .schema(full)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", corrupt_col)
            .csv(path))

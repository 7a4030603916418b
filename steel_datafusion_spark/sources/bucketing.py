"""Bucketed tables — co-located joins without a shuffle.

At 100 TB the dominant cost of a fact⋈fact join is the exchange of both
sides.  Writing both tables bucketed (and sorted) by the join key makes the
join key distribution a property of the STORAGE, so Catalyst plans a
sort-merge join with **no Exchange on either side** — the Spark analogue of
a co-partitioned warehouse layout.  ``tests/test_bucketing.py`` asserts the
Exchange-free plan.

Use when a join key is stable and reused across many queries (orderkey,
user_id, doc_id); the write cost is paid once.  Bucket count should be a
multiple of cluster parallelism at the target scale — at 100 TB think
thousands, not the 8 used in the local test.
"""

from __future__ import annotations

import json
import os
import shutil
import urllib.parse

from pyspark.sql import DataFrame, SparkSession

__all__ = ["write_bucketed", "read_table", "drop_managed_table",
           "attach_table"]

_DESCRIPTOR = "_sdf_table.json"


def _warehouse_path(spark: SparkSession, table_name: str) -> str:
    d = spark.conf.get("spark.sql.warehouse.dir")
    if d.startswith("file:"):
        d = urllib.parse.unquote(urllib.parse.urlparse(d).path)
    return os.path.join(d, table_name.lower())


def _aside_path(spark: SparkSession, table_name: str) -> str:
    """The hidden sibling a dropped table's directory is renamed to."""
    path = _warehouse_path(spark, table_name)
    return os.path.join(os.path.dirname(path),
                        "." + os.path.basename(path) + ".dropped")


def _rename_aside(spark: SparkSession, table_name: str) -> str:
    """Rename the table's warehouse directory (if any) to its hidden
    sibling, replacing a stale one; returns the sibling.  A failed rename
    raises."""
    aside = _aside_path(spark, table_name)
    shutil.rmtree(aside, ignore_errors=True)
    path = _warehouse_path(spark, table_name)
    if os.path.isdir(path):
        os.rename(path, aside)
    return aside


def drop_managed_table(spark: SparkSession, table_name: str) -> None:
    """Drop a table and its warehouse directory (even one without a
    catalog entry: LOCATION_ALREADY_EXISTS), crash-safely: rename the
    directory to a hidden sibling (atomic on POSIX), drop the catalog
    entry, delete the sibling.  A crash never leaves a partial directory
    under the table's name, only a hidden one that nothing reads."""
    aside = _rename_aside(spark, table_name)
    spark.sql(f"DROP TABLE IF EXISTS `{table_name}`")
    shutil.rmtree(aside, ignore_errors=True)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 8,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (+ optionally sorted) managed table.  Sorting
    within buckets lets the SMJ skip its sort as well."""
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table_name)
    # drop a descriptor beside the data so a FRESH session/process can
    # re-attach the table WITH its bucket spec (the default in-memory
    # catalog dies with the session; the warehouse files do not) — see
    # attach_table.  "_"-prefixed: invisible to scans and appends.
    try:
        spark = df.sparkSession
        with open(os.path.join(_warehouse_path(spark, table_name),
                               _DESCRIPTOR), "w") as fh:
            json.dump({"bucket_cols": list(bucket_cols),
                       "n_buckets": int(n_buckets),
                       "sort_cols": list(sort_cols or [])}, fh)
    except OSError:
        pass  # descriptor is an attach accelerator, never load-bearing


def attach_table(spark: SparkSession, table_name: str) -> bool:
    """Re-register a warehouse table in THIS session's catalog (the
    default in-memory catalog dies with the session; the parquet does
    not): schema from the files, bucket spec from the ``_sdf_table.json``
    descriptor ``write_bucketed`` leaves beside them, so the table keeps
    its Exchange-free join plans and its layout for later writes; no
    descriptor attaches unbucketed.  Returns True if the table is now
    reachable (a no-op when the catalog knows the name), False if there
    is nothing to attach."""
    if spark.catalog.tableExists(table_name):
        return True
    path = _warehouse_path(spark, table_name)
    if not os.path.isdir(path) or not any(
            f.endswith(".parquet") and not f.startswith(("_", "."))
            for f in os.listdir(path)):
        return False
    schema = spark.read.parquet(path).schema
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                     for f in schema.fields)
    spec = {}
    try:
        with open(os.path.join(path, _DESCRIPTOR)) as fh:
            spec = json.load(fh)
    except (OSError, ValueError):
        spec = {}
    clustered = ""
    if spec.get("bucket_cols"):
        bc = ", ".join(f"`{c}`" for c in spec["bucket_cols"])
        clustered = f" CLUSTERED BY ({bc})"
        if spec.get("sort_cols"):
            sc = ", ".join(f"`{c}`" for c in spec["sort_cols"])
            clustered += f" SORTED BY ({sc})"
        clustered += f" INTO {int(spec['n_buckets'])} BUCKETS"
    spark.sql(
        f"CREATE TABLE `{table_name}` ({cols}) USING parquet"
        f"{clustered} LOCATION '{path}'")
    return True


def read_table(spark: SparkSession, table_name: str) -> DataFrame:
    """Read a managed (bucketed) table — bucket metadata flows into planning."""
    return spark.table(table_name)

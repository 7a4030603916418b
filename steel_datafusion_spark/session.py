"""Session management — the Spark analogue of the reference's ``session-context``.

Reference surface: ``(session-context)`` → fresh DataFusion ``SessionContext``
(/root/reference/src/main.rs:379-386, registered at main.rs:520).

Spark difference (documented, intentional): a ``SparkSession`` is process-global
(one JVM); ``session_context()`` therefore returns the shared session configured
for deterministic, scale-ready execution rather than N independent catalogs.
Use ``spark.newSession()`` for catalog isolation if needed.

Scale notes (100 TB design):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  broadcast demotion/promotion replace any hand-tuned plan at cluster scale.
- Arrow transfer on: the Python boundary uses the same columnar format the
  reference uses for results (Arrow RecordBatch, main.rs:524-531).
- UTC session timezone: deterministic timestamp semantics across engines
  (needed for DuckDB-oracle parity and cross-cluster reproducibility).
- ``shuffle.partitions`` defaults from SPARK_GRAFT_CPUS locally; on a real
  cluster leave it high (e.g. 2000) and let AQE coalesce.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["session_context", "new_session", "DEFAULT_CONF"]

DEFAULT_CONF: dict[str, str] = {
    # Catalyst/AQE: the optimizer is the engine — never hand-schedule.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Columnar Python boundary (parity with the reference's Arrow results).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # Determinism for oracle comparison.
    "spark.sql.session.timeZone": "UTC",
    # Broadcast small dimension tables (region/nation/supplier at any SF).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Parquet scans: pushdown + pruning are on by default; keep split size
    # large enough that local[32] doesn't drown in tiny tasks.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    # The driver's parquet uses TIMESTAMP(NANOS), which Spark has no native
    # type for; read as long and convert to µs timestamps in load_tables
    # (DuckDB likewise truncates ns→µs, so oracle parity is preserved).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Self-joins on the same source (dedup/similarity) otherwise trip
    # ambiguity analysis; auto-dedup the join plan like DataFusion does.
    "spark.sql.analyzer.failAmbiguousSelfJoin": "false",
}


def _driver_memory() -> str:
    """``spark.driver.memory`` default: ``$SPARK_GRAFT_DRIVER_MEM`` when
    set, else half the host's physical memory (the other half stays for
    the Python workers and the OS), at least 1g and at most 32g."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return "32g"  # host memory unknown
    return f"{max(1, min(32, phys // 2 >> 30))}g"


def session_context(
    app_name: str = "steel-datafusion-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) the configured SparkSession.

    Mirrors ``session-context`` (main.rs:382-386).  ``master`` defaults to
    ``local[$SPARK_GRAFT_CPUS]`` locally; on a cluster, leave unset and let
    spark-submit decide.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    # Python workers must be able to import this package no matter what the
    # driver process's cwd is (mapInPandas/applyInPandas kernels unpickle
    # `from .codecs import ...` worker-side).  PYTHONPATH is inherited by
    # local-mode workers and shipped via spark.executorEnv on a cluster.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pypath if pypath else ""))

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.setdefault("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    conf.setdefault("spark.driver.memory", _driver_memory())
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def new_session(base: SparkSession | None = None) -> SparkSession:
    """Isolated session — the closest Spark analogue of the reference's
    N-independent-``SessionContext`` semantics (main.rs:379-386): each call to
    ``(session-context)`` there yields its own catalog.

    ``SparkSession.newSession()`` shares the JVM/SparkContext (executors,
    cached blocks) but gets an isolated SQLConf, temp-view catalog, and UDF
    registry — so two sessions' ``createOrReplaceTempView`` names never
    collide, matching the reference's observable isolation for its surface
    (which has no cross-session state beyond registered tables)."""
    sess = (base or session_context()).newSession()
    # runtime confs are per-session — re-apply the deterministic defaults
    for k, v in DEFAULT_CONF.items():
        try:
            sess.conf.set(k, v)
        except Exception:
            pass  # static conf (e.g. spark.driver.memory) — already set on the JVM
    return sess

"""Run environment, measurement and tracing shared by the workloads.

Everything here observes the package from outside: it pins the process
environment, starts the session through ``session_context``, reads Spark's
own accounting (status store, query-execution phase tracker, management
beans) through py4j, and samples ``/proc`` for the run's own processes.
"""

from __future__ import annotations

import os
import shutil
import statistics
import tempfile
import threading
import time
from contextlib import contextmanager

DRIVER_MEM = "3g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_env(work: str) -> dict:
    """Fix the knobs that change what a run measures; returns them for the
    result record.  The directories live under ``work``, which the caller
    creates fresh for each run."""
    for sub in ("local", "tmp", "warehouse", "derby"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
    }
    os.environ.update(env)
    tempfile.tempdir = env["TMPDIR"]
    return env


def session_conf(work: str) -> dict[str, str]:
    """Per-run warehouse, metastore and JVM temp dir, plus status-store
    retention large enough that no job of the run is evicted."""
    jopts = (f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
             f"-Dderby.system.home={os.path.join(work, 'derby')} "
             "-XX:-UsePerfData")
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": jopts,
        "spark.ui.enabled": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(work: str):
    from steel_datafusion_spark import session_context

    spark = session_context(app_name="perfbench",
                            extra_conf=session_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the context, then the gateway JVM (it exits when its stdin
    closes, taking its Python workers with it), and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def warm_session(spark) -> None:
    """Scan, join and aggregate code paths, so the first timed operation
    does not pay first-touch costs.  (The relational workload's untimed
    first sweep also warms the Python worker pool.)"""
    from pyspark.sql import functions as F

    a = spark.range(20000).withColumn("k", F.col("id") % 97)
    a.join(spark.range(97).withColumnRenamed("id", "k"), "k") \
        .groupBy("k").count().collect()


# ---------------------------------------------------------------------------
# machine state (same probes as bench.py)
# ---------------------------------------------------------------------------

def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def busy_probe() -> float:
    """Fixed busy loop; if this slows down, the machine did."""
    t0 = time.perf_counter()
    x = 0
    for i in range(10_000_000):
        x += i
    assert x == 49999995000000
    return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# resident memory of the run's own processes
# ---------------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_kb(pid: int) -> tuple[str, int]:
    """(command name, proportional set size in kB) of one process; ("", 0)
    once it is gone.  PSS splits each page shared between processes among
    them, so a forked child (a Python worker, or a short-lived helper the
    JVM forks) does not count its parent's memory a second time."""
    name, pss = "", 0
    try:
        with open(f"/proc/{pid}/comm") as f:
            name = f.read().strip()
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    pss = int(line.split()[1])
                    break
    except OSError:
        pass
    return name, pss


def descendants_rss_mb() -> dict[str, float]:
    """Resident memory (PSS) of every descendant of this process, summed
    by command name: the driver JVM (``java``) and the Python workers it
    forks."""
    kids = _children()
    todo, parts = list(kids.get(os.getpid(), [])), {}
    while todo:
        pid = todo.pop()
        name, pss = _pss_kb(pid)
        parts[name] = parts.get(name, 0) + pss / 1024
        todo.extend(kids.get(pid, []))
    return parts


class RssSampler:
    """Background sampler of :func:`descendants_rss_mb`; ``peak`` is the
    largest total seen and ``peak_parts`` its split by command name."""

    def __init__(self, every_s: float = 0.25):
        self.every_s = every_s
        self.peak = 0.0
        self.peak_parts: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        parts = descendants_rss_mb()
        if sum(parts.values()) > self.peak:
            self.peak, self.peak_parts = sum(parts.values()), parts

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.every_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join()
            self._sample()
        return self.peak


# ---------------------------------------------------------------------------
# Spark's own accounting
# ---------------------------------------------------------------------------

STAGE_FIELDS = ("tasks", "run_s", "cpu_s", "input_bytes",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class StatusStore:
    """Job and stage metrics from ``SparkContext.statusStore`` via py4j."""

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()
        gw = spark.sparkContext._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store reflects every job that has finished."""
        self.sc.listenerBus().waitUntilEmpty()

    def stages(self) -> dict[int, dict]:
        out = {}
        for s in _seq(self.sc.statusStore().stageList(
                None, False, False, self._no_quantiles, None)):
            if s.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            out[(s.stageId(), s.attemptId())] = {
                "tasks": s.numTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "input_bytes": s.inputBytes(),
                "shuffle_read_bytes": (s.shuffleRemoteBytesRead()
                                       + s.shuffleLocalBytesRead()),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            }
        return out

    def jobs(self) -> list[tuple[str | None, list[int], float | None]]:
        """(job group, stage ids, submission epoch s) of every job in the
        store."""
        out = []
        for j in _seq(self.sc.statusStore().jobsList(None)):
            grp, sub = j.jobGroup(), j.submissionTime()
            out.append((grp.get() if grp.isDefined() else None,
                        [int(x) for x in _seq(j.stageIds())],
                        sub.get().getTime() / 1e3 if sub.isDefined()
                        else None))
        return out

    def totals(self) -> dict:
        """Sums over every completed stage so far; the difference of two
        totals is the work done between them."""
        self.drain()
        st = self.stages()
        tot = {f: sum(s[f] for s in st.values()) for f in STAGE_FIELDS}
        tot["stages"] = len(st)
        tot["jobs"] = len(self.jobs())
        return tot


def diff(after: dict, before: dict) -> dict:
    return {k: after[k] - before[k] for k in after}


def jvm_stats(spark) -> dict:
    """GC time and peak heap of the driver JVM from its management beans."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in
                mf.getGarbageCollectorMXBeans())
    heap = 0
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getType().toString() == "Heap memory":
            heap += pool.getPeakUsage().getUsed()
    return {"gc_s": gc_ms / 1e3, "heap_peak_mb": heap / 2**20}


def persisted_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def catalyst_phases_ms(df) -> dict:
    """Analysis/optimization/planning time recorded by the Dataset's own
    QueryExecution tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        out[name] = (phases.apply(name).durationMs()
                     if phases.contains(name) else 0)
    return out


class ProgressListener:
    """Collects the run id of every streaming query that starts
    (``started``) and its ``onQueryProgress`` events (``events``)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []
        started = self.started = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                started.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                events.append({"rows": p.numInputRows,
                               "duration_ms": dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _L()
        spark.streams.addListener(self._listener)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """Spans recorded around the benchmark's calls into a layer.

    With ``enabled`` false every span is a no-op and nothing is recorded.
    Each span sets its own Spark job group, so the jobs it launched are
    attributed to it afterwards from the status store (``attribute``)."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None,
               "wall0": time.time(), "wall1": None, **attrs}
        self.spans.append(rec)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"span-{sid}", name)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall1"] = time.time()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(f"span-{self._stack[-1]}", name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def attribute(self, store: StatusStore) -> int:
        """Give each span the jobs, stages and stage metrics of the jobs
        launched while it was the innermost span, and ``pre_job_s``: its
        time before the first of those jobs was submitted (all of it if it
        launched none).  A span may also claim other job groups in its
        ``job_groups`` (a streaming query's run id, under which the query's
        own thread runs its jobs).  Returns the number of jobs no span
        claimed."""
        store.drain()
        owner = {}
        for rec in self.spans:
            for g in rec.get("job_groups", ()):
                owner[g] = rec["id"]
        unclaimed = 0
        stages = store.stages()
        by_stage = {}
        for (sid, _att), m in stages.items():
            acc = by_stage.setdefault(sid, dict.fromkeys(STAGE_FIELDS, 0))
            for f in STAGE_FIELDS:
                acc[f] += m[f]
        for rec in self.spans:
            rec.update(jobs=0, stages=0, first_job=rec["wall1"],
                       **dict.fromkeys(STAGE_FIELDS, 0))
        for grp, stage_ids, sub in store.jobs():
            if grp in owner:
                rec = self.spans[owner[grp]]
            elif grp and grp.startswith("span-"):
                rec = self.spans[int(grp[5:])]
            else:
                unclaimed += 1
                continue
            rec["jobs"] += 1
            if sub is not None:
                rec["first_job"] = min(rec["first_job"], sub)
            for s in stage_ids:
                if s in by_stage:
                    rec["stages"] += 1
                    for f in STAGE_FIELDS:
                        rec[f] += by_stage[s][f]
        for rec in self.spans:
            rec["pre_job_s"] = max(0.0, rec["first_job"] - rec["wall0"])
        return unclaimed

    def inclusive(self, rec: dict, field: str):
        """``field`` summed over ``rec`` and all its descendants."""
        kids = [s for s in self.spans if s["parent"] == rec["id"]]
        return rec[field] + sum(self.inclusive(k, field) for k in kids)

    def total(self, name: str, field: str = "dur"):
        out = 0
        for rec in self.spans:
            if rec["name"] == name:
                out += (rec["end"] - rec["start"] if field == "dur"
                        else self.inclusive(rec, field))
        return out


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return statistics.geometric_mean(xs) if xs else 0.0


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path

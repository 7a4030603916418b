#!/usr/bin/env python
"""File-census sweep for the data-skipping layer (VERDICT r11 item 5,
extended to 10^6 files + columnar pruning in r13).

The pruned read (`sources/manifest.py _read_pruned` over
`sources/filestats.py`) claims O(files) COLUMNAR work — one
column-projected parquet read + vectorized verdict kernels on the
driver, no per-file Python.  This tool defends the claim at
10^2..10^6 files: a synthetic manifest version with N tiny parquet
files (pyarrow direct writes fanned over a thread pool, so data volume
stays ~fixed while the FILE COUNT scales a decade per step), stats and
a bloom column backfilled, then measured:

- stats_build_s: write_table_stats wall (threaded footer metadata reads,
  O(files), + one columnar parquet write)
- bloom_build_s: write_table_bloom wall (one column scan, executor-side
  filter packing)
- bloom_fpp_absent_keys: share of (absent key, file) probes the filters
  admit, probe bits hashed by the read path's own ``_bloom_probe_bits``
- prune_s: read_table(where=point) DataFrame CONSTRUCTION wall — this IS
  the pruning (columnar sidecar load + vectorized verdicts + the
  survivor-only Spark relation); no row-data job has run yet
- read_s: collect wall for the pruned read (opens only admitted files)
- files_opened, rows, and the driver's maxrss high-water (MB)
- prune_sub_*: the same point lookup driven in a FRESH subprocess whose
  maxrss baseline is taken after session warm-up, so the prune's OWN
  driver-memory footprint is isolated from the build's (the "flat
  driver RSS" claim) — sub_rss_delta_mb ≈ what pruning added

Usage:
    python tools/file_census.py [--out bench_runs/file_census.json]
                                [--counts 100,1000,10000] [--deep]

--deep appends 100000 and 1000000 to the counts.
"""

from __future__ import annotations

import concurrent.futures
import json
import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _maxrss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def _uid(k: int) -> str:
    # cheap deterministic high-cardinality key (a multiplicative hash —
    # md5 per row would dominate generation wall at 10^6 files)
    return f"{(k * 2654435761 + 0x9E3779B9) % (1 << 61):016x}"


def build_table(root: str, n_files: int, rows_per_file: int = 20,
                workers: int = 16) -> None:
    """N tiny files under one committed manifest version: file i holds
    k in [i*rpf, (i+1)*rpf) — range-clustered, so a point lookup on k is
    answerable from min/max stats alone and admits exactly one file.
    File writes fan out over a thread pool (pyarrow releases the GIL
    around I/O), keeping the 10^6 decade generable in minutes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from steel_datafusion_spark.sources.manifest import (
        commit_version, new_version_dir,
    )

    data_dir = new_version_dir(root, 1)
    schema = pa.schema([("k", pa.int64()), ("uid", pa.string())])

    def _write(i: int) -> None:
        lo = i * rows_per_file
        ks = list(range(lo, lo + rows_per_file))
        pq.write_table(
            pa.table({"k": ks, "uid": [_uid(k) for k in ks]},
                     schema=schema),
            os.path.join(data_dir, f"part-{i:06d}.parquet"),
            compression="none")

    with concurrent.futures.ThreadPoolExecutor(workers) as ex:
        list(ex.map(_write, range(n_files)))
    commit_version(root, 1, data_dir)


_SUB_SCRIPT = """
import json, os, sys, time
sys.path.insert(0, {repo!r})

def _vm(key):
    # /proc/self/status, NOT getrusage: ru_maxrss is INHERITED across
    # fork/exec on Linux, so a child would report the census parent's
    # high-water and the delta would read 0 vacuously; VmHWM/VmRSS are
    # per-mm and reset at exec
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024.0
    return float("nan")

from steel_datafusion_spark import session_context
from steel_datafusion_spark.sources.manifest import read_table
spark = session_context(app_name="census-prune-sub")
spark.sparkContext.setLogLevel("ERROR")
spark.range(1).count()  # warm the session fully before the baseline
rss0 = _vm("VmHWM")
t0 = time.perf_counter()
df = read_table(spark, {root!r}, where=[("k", "=", {mid})])
prune_s = time.perf_counter() - t0
t0 = time.perf_counter()
rows = df.collect()
read_s = time.perf_counter() - t0
rss1 = _vm("VmHWM")
print("CENSUS_SUB " + json.dumps({{
    "prune_sub_s": round(prune_s, 3), "read_sub_s": round(read_s, 3),
    "files_opened_sub": len(df.inputFiles()), "rows_sub": len(rows),
    "sub_rss_base_mb": round(rss0, 1),
    "sub_rss_delta_mb": round(rss1 - rss0, 1)}}))
"""


def _subprocess_prune(root: str, mid: int) -> dict:
    script = _SUB_SCRIPT.format(repo=REPO, root=root, mid=mid)
    r = subprocess.run([sys.executable, "-c", script],
                       capture_output=True, text=True, timeout=900)
    for line in r.stdout.splitlines():
        if line.startswith("CENSUS_SUB "):
            return json.loads(line[len("CENSUS_SUB "):])
    return {"sub_error": (r.stderr or r.stdout)[-500:]}


def main() -> int:
    out_path = "bench_runs/file_census.json"
    args = sys.argv[1:]
    if "--out" in args:
        i = args.index("--out")
        out_path = args[i + 1]
        del args[i:i + 2]
    counts = [100, 1000, 10000]
    if "--counts" in args:
        i = args.index("--counts")
        counts = [int(x) for x in args[i + 1].split(",")]
        del args[i:i + 2]
    if "--deep" in args:
        counts.extend([100000, 1000000])

    from steel_datafusion_spark import session_context
    from steel_datafusion_spark.sources import filestats
    from steel_datafusion_spark.sources.manifest import (
        _bloom_probe_bits, latest_commit, read_table, write_table_bloom,
        write_table_stats,
    )

    spark = session_context(app_name="file-census")
    spark.sparkContext.setLogLevel("ERROR")
    results: dict[str, dict] = {}
    base = os.path.join(tempfile.gettempdir(),
                        f"sdf_file_census/{uuid.uuid4().hex[:8]}")
    for n in counts:
        root = os.path.join(base, f"n{n}")
        t0 = time.perf_counter()
        build_table(root, n)
        gen_s = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        covered = write_table_stats(root, ["k"])
        stats_s = round(time.perf_counter() - t0, 3)
        assert covered == n
        t0 = time.perf_counter()
        write_table_bloom(spark, root, ["uid"], bits=1 << 8)
        bloom_s = round(time.perf_counter() - t0, 3)
        # bloom FPP spot-check: absent keys vs every file's filter,
        # vectorized (numpy bit tests over the byte matrix) — with 20
        # distinct uids/file at bits=256,k=5 expect ~0.3%
        _v, ddir = latest_commit(root)
        b = filestats.load_bloom_parquet(ddir, "uid")
        absent = [f"u-absent-{i:04d}" for i in range(200)]
        admitted = 0
        for pr in _bloom_probe_bits(spark, read_table(spark, root).schema,
                                    "uid", absent, b["bits"], b["k"]):
            admitted += int(filestats._bloom_admit_np(
                b["mat"], [pr]).sum())
        fpp = admitted / (len(absent) * b["mat"].shape[0])
        mid = (n * 20) // 2 + 3
        t0 = time.perf_counter()
        df = read_table(spark, root, where=[("k", "=", mid)])
        prune_s = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        rows = df.collect()
        read_s = round(time.perf_counter() - t0, 3)
        opened = len(df.inputFiles())
        row = {"n_files": n, "gen_s": gen_s,
               "stats_build_s": stats_s,
               "bloom_build_s": bloom_s,
               "bloom_fpp_absent_keys": round(fpp, 5),
               "prune_s": prune_s,
               "read_s": read_s, "files_opened": opened,
               "rows": len(rows), "driver_maxrss_mb": round(_maxrss_mb(), 1)}
        row.update(_subprocess_prune(root, mid))
        target = read_table(spark, root).filter(
            f"k = {mid}").head().uid
        t0 = time.perf_counter()
        bdf = read_table(spark, root, where=[("uid", "=", target)])
        row["bloom_prune_s"] = round(time.perf_counter() - t0, 3)
        row["bloom_files_opened"] = len(bdf.inputFiles())
        row["bloom_rows"] = bdf.count()
        results[f"n{n}"] = row
        print(f"n={n}: gen {gen_s}s, stats {stats_s}s, bloom {bloom_s}s, "
              f"fpp {fpp:.5f}, "
              f"prune {prune_s}s (sub {row.get('prune_sub_s')}s, "
              f"+{row.get('sub_rss_delta_mb')} MB), read {read_s}s, "
              f"opened {opened}, maxrss {row['driver_maxrss_mb']} MB, "
              f"bloom prune {row.get('bloom_prune_s')}s opened "
              f"{row.get('bloom_files_opened')}", flush=True)
        shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as fh:
        json.dump(results, fh, indent=1)
    print(f"wrote {out_path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

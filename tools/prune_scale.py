#!/usr/bin/env python
"""Uncontended pruning-wall measurement over SYNTHETIC stats tables at
10^6 and 10^7 files: the prune only ever touches the SIDECAR, so the
stats table is the input and this tool synthesizes exactly it instead
of writing millions of real files.

Per n_files this tool runs a FRESH subprocess that:
- builds nothing (the parent wrote the stats parquet once per n),
- imports the pruner, baselines VmHWM from /proc/self/status
  (ru_maxrss is inherited across fork/exec — useless for children),
- times ``filestats.prune_with_stats_parquet`` (driver-side pyarrow
  kernels, no Spark session) for a point predicate (admits exactly one
  file) and records survivors, wall, and the RSS delta.

Stats rows mirror build_stats_table's exact schema + metadata
(stats_cols, file_count) so the completeness guard and column typing
are the production ones.

Usage:
    python tools/prune_scale.py [--out bench_runs/prune_scale.json]
                                [--counts 1000000,10000000]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROWS_PER_FILE = 20


def build_stats(data_dir: str, n_files: int) -> str:
    """Write a production-shaped _stats.parquet for n_files synthetic
    range-clustered files (file i covers k in [i*rpf, (i+1)*rpf))."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from steel_datafusion_spark.sources import filestats

    os.makedirs(data_dir, exist_ok=True)
    idx = np.arange(n_files, dtype=np.int64)
    rels = pa.array([f"part-{i:08d}.parquet" for i in range(n_files)],
                    type=pa.string())
    tbl = pa.table({
        "rel": rels,
        "rows": pa.array(np.full(n_files, ROWS_PER_FILE), pa.int64()),
        "lo:k": pa.array(idx * ROWS_PER_FILE, pa.int64()),
        "hi:k": pa.array(idx * ROWS_PER_FILE + ROWS_PER_FILE - 1,
                         pa.int64()),
        "nulls:k": pa.array(np.zeros(n_files, np.int64), pa.int64()),
        "ok:k": pa.array(np.ones(n_files, bool), pa.bool_()),
    })
    meta = {b"stats_cols": json.dumps(["k"]).encode(),
            b"file_count": str(n_files).encode()}
    pq.write_table(tbl.replace_schema_metadata(meta),
                   filestats.stats_parquet_path(data_dir))
    return data_dir


_SUB = """
import json, os, sys, time
sys.path.insert(0, {repo!r})

def _vm(key):
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024.0
    return float("nan")

from steel_datafusion_spark.sources import filestats
rss0 = _vm("VmHWM")
t0 = time.perf_counter()
res = filestats.prune_with_stats_parquet(
    {data_dir!r}, [("k", "=", {point})],
    lambda col, vals, bits, k: None)
wall = time.perf_counter() - t0
survivors, total = res
print("PRUNE_SUB " + json.dumps({{
    "prune_s": round(wall, 3), "survivors": len(survivors),
    "total": total, "rss_base_mb": round(rss0, 1),
    "rss_delta_mb": round(_vm("VmHWM") - rss0, 1)}}))
"""


def run_cell(data_dir: str, n: int) -> dict:
    point = (n * ROWS_PER_FILE) // 2 + 3
    script = _SUB.format(repo=REPO, data_dir=data_dir, point=point)
    r = subprocess.run([sys.executable, "-c", script],
                       capture_output=True, text=True, timeout=1800)
    for line in r.stdout.splitlines():
        if line.startswith("PRUNE_SUB "):
            return json.loads(line[len("PRUNE_SUB "):])
    return {"error": (r.stderr or r.stdout)[-800:]}


def main() -> int:
    out_path = "bench_runs/prune_scale.json"
    args = sys.argv[1:]
    if "--out" in args:
        i = args.index("--out")
        out_path = args[i + 1]
        del args[i:i + 2]
    counts = [1_000_000, 10_000_000]
    if "--counts" in args:
        i = args.index("--counts")
        counts = [int(x) for x in args[i + 1].split(",")]
        del args[i:i + 2]
    la = os.getloadavg()
    results: dict = {"loadavg_at_start": [round(x, 2) for x in la]}
    base = os.path.join(tempfile.gettempdir(),
                        f"sdf_prune_scale/{uuid.uuid4().hex[:8]}")
    for n in counts:
        data_dir = os.path.join(base, f"n{n}")
        t0 = time.perf_counter()
        build_stats(data_dir, n)
        gen_s = round(time.perf_counter() - t0, 3)
        size_mb = round(os.path.getsize(os.path.join(
            data_dir, "_stats.parquet")) / 1e6, 1)
        row: dict = {"n_files": n, "gen_s": gen_s,
                     "stats_parquet_mb": size_mb}
        row["driver"] = run_cell(data_dir, n)
        print(f"n={n} driver: {row['driver']}", flush=True)
        results[f"n{n}"] = row
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as fh:
        json.dump(results, fh, indent=1)
    print(f"wrote {out_path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

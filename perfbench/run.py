#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 20 \
        --trace 0

Runs one workload from the root of a checkout of the repository: set-up
(session start, warm-up, seeded inputs), then whole rounds of the
workload's operations until ``--seconds`` have passed, each round checking
its outputs.  The last line of standard output is one JSON object:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the same workload runs with spans around every call into a layer and the
metrics are the per-layer ones, and the spans are written to
``.perfbench_out/trace-<workload>-<seed>.json``.  See README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import harness  # noqa: E402

WORKLOADS = ("relational", "ingest")


class Context:
    def __init__(self, spark, seed: int, work: str, tracer, store):
        self.spark, self.seed, self.work = spark, seed, work
        self.tracer, self.store = tracer, store

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def make_workload(name: str, ctx):
    if name == "relational":
        from relational import Relational
        return Relational(ctx)
    from ingest import Ingest
    return Ingest(ctx)


def declared_metrics(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json, at the root of the checkout, declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = harness.fresh_dir(os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}"))
    try:
        env = harness.pin_env(work)
        # /proc sampling only in traced runs: timed runs carry no probe
        rss = harness.RssSampler().start() if args.trace else None
        t0 = time.perf_counter()
        spark = harness.start_session(work)
        try:
            session_s = time.perf_counter() - t0
            result = run(args, env, spark, work, rss, session_s)
        finally:
            if rss is not None:
                rss.stop()
            harness.stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


class Body:
    """What the measured rounds leave behind."""

    def __init__(self):
        self.walls: list[float] = []
        self.reads: dict[str, list[float]] = {}
        self.attempted = self.failed = 0
        self.correct = True
        self.seconds = 0.0


def run_rounds(wl, seconds: float) -> Body:
    """Whole rounds until ``seconds`` have passed (at least one)."""
    b = Body()
    t_body = time.perf_counter()
    while time.perf_counter() - t_body < seconds:
        t = time.perf_counter()
        try:
            r = wl.round()
        except checks.CheckFailed as e:
            print(f"check failed: {e}", file=sys.stderr)
            b.correct = False
            break
        b.walls.append(time.perf_counter() - t)
        b.attempted += r["attempted"]
        b.failed += r["failed"]
        for name, dt in r["reads"].items():
            b.reads.setdefault(name, []).append(dt)
    b.seconds = time.perf_counter() - t_body
    return b


def run(args, env, spark, work, rss, session_s) -> dict:
    harness.warm_session(spark)
    store = harness.StatusStore(spark)
    tracer = harness.Tracer(spark, enabled=False)
    ctx = Context(spark, args.seed, work, tracer, store)
    wl = make_workload(args.workload, ctx)
    setup_s = time.perf_counter() - T_PROCESS

    tracer.enabled = bool(args.trace)
    load0, jif0 = harness.loadavg(), harness.cpu_jiffies()
    totals0, jvm0 = store.totals(), harness.jvm_stats(spark)
    body = run_rounds(wl, args.seconds)
    if rss is not None:
        rss.stop()
    jif1 = harness.cpu_jiffies()
    machine = {
        "env": env, "setup_s": setup_s, "session_s": session_s,
        "round_s": body.walls, "body_s": body.seconds,
        "loadavg_start": load0, "loadavg_end": harness.loadavg(),
        "steal_pct": 100.0 * (jif1[0] - jif0[0]) / max(1, jif1[1] - jif0[1]),
        "probe_s": harness.busy_probe(),
    }
    if rss is not None:
        machine["peak_rss_parts_mb"] = rss.peak_parts
    print(json.dumps({"machine": machine}), file=sys.stderr)
    result = {"correct": body.correct, "attempted": body.attempted,
              "failed": body.failed, "metrics": {}}
    if not body.correct:
        return result

    if args.trace:
        values = per_layer(ctx, wl, body, totals0, jvm0, session_s,
                           int(env["SPARK_GRAFT_CPUS"]))
        values["jvm.peak_rss_mb"] = rss.peak
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(
                out_dir, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"machine": machine, "wall_s": harness.median(body.walls),
                       "unclaimed_jobs": values.pop("unclaimed_jobs"),
                       "spans": tracer.spans}, f, default=str)
        declared = declared_metrics("per_layer")
    else:
        values = {
            "setup_s": setup_s,
            "wall_s": harness.median(body.walls),
            "query_geomean_s": harness.geomean(
                [harness.median(v) for v in body.reads.values()]),
        }
        declared = declared_metrics("end_to_end")
    # a layer the workload does not cross reports zero
    result["metrics"] = {k: {"value": values.get(k, 0), "unit": u}
                         for k, u in declared.items()}
    return result


def per_layer(ctx, wl, body: Body, totals0, jvm0, session_s: float,
              cores: int) -> dict:
    """Per-round layer metrics of a traced run, plus ``unclaimed_jobs``:
    jobs of the run that no span claimed (warm-up and set-up jobs)."""
    unclaimed = ctx.tracer.attribute(ctx.store)
    ex = harness.diff(ctx.store.totals(), totals0)
    jvm1 = harness.jvm_stats(ctx.spark)
    n = len(body.walls)
    out = {
        "session.start_s": session_s,
        "exec.idle_core_s": (body.seconds * cores - ex["run_s"]) / n,
        "jvm.gc_s": (jvm1["gc_s"] - jvm0["gc_s"]) / n,
        "jvm.heap_peak_mb": jvm1["heap_peak_mb"],
        "unclaimed_jobs": unclaimed,
    }
    for k in ("jobs", "stages") + harness.STAGE_FIELDS:
        out[f"exec.{k}"] = ex[k] / n
    out.update(wl.layers(n))
    return out


if __name__ == "__main__":
    sys.exit(main())

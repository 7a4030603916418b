"""``relational`` workload: a fixed slice of the query catalog, swept in a
fixed order; every result is checked against the query's DuckDB oracle SQL
on the same parquet files.

One round is one sweep.  Each query is built (package calls, py4j plan
construction), planned (``executedPlan``: Catalyst analysis, optimization
and physical planning) and executed with its result collected as Arrow.
The three calls are made the same way in timed and traced runs; traced
runs only wrap them in spans.
"""

from __future__ import annotations

import time

import duckdb

import checks
import datagen
from harness import catalyst_phases_ms
from steel_datafusion_spark.queries import RELATIONAL_QUERIES

SF = 0.01
# One query per operator family of the catalog: scan + aggregate, a semi
# join, a join + top-k, set operations, windows, grouping sets, JSON and a
# vectorized Python UDF.  Eight, so that set-up plus two sweeps stay under a
# minute per run on 4 busy cores.
QUERIES = [
    "pricing_summary", "semi_join", "shipping_priority", "set_ops",
    "window_funcs", "rollup_agg", "json_extract", "udf_vectorized",
]


def oracle_answers(paths: dict[str, str], names: list[str]) -> dict:
    """Each query's oracle SQL run by DuckDB on the same parquet files,
    canonicalized for comparison."""
    con = duckdb.connect()
    for t, p in paths.items():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {n: checks.canon_table(
        con.execute(RELATIONAL_QUERIES[n][1]).fetch_arrow_table())
        for n in names}
    con.close()
    return out


class Relational:
    def __init__(self, ctx):
        self.ctx = ctx
        self.paths = datagen.write_tables(ctx.path("data"), ctx.seed, SF)
        self.data_dir = ctx.path("data")
        self.oracle = oracle_answers(self.paths, QUERIES)
        self.fns = [(n, RELATIONAL_QUERIES[n][0]) for n in QUERIES]
        self.phases = {"analysis": 0, "optimization": 0, "planning": 0}
        self.collect_rows = self.collect_bytes = 0
        # the first sweep of a session runs 1.3-2x slower (class loading,
        # code generation); it belongs to set-up
        self.sweep(check=True)

    def sweep(self, check: bool) -> dict[str, float]:
        """One pass over the queries; returns query -> latency (build +
        plan + execute/collect)."""
        tr, spark = self.ctx.tracer, self.ctx.spark
        lat = {}
        for name, fn in self.fns:
            with tr.span("query", query=name):
                t0 = time.perf_counter()
                with tr.span("build"):
                    df = fn(spark, self.data_dir)
                with tr.span("plan"):
                    df._jdf.queryExecution().executedPlan()
                with tr.span("execute_collect"):
                    tbl = df.toArrow()
                lat[name] = time.perf_counter() - t0
            if tr.enabled:
                for k, v in catalyst_phases_ms(df).items():
                    self.phases[k] += v
                self.collect_rows += tbl.num_rows
                self.collect_bytes += tbl.nbytes
            if check:
                checks.check_same_table(checks.canon_table(tbl),
                                        self.oracle[name], name)
        return lat

    def round(self) -> dict:
        lat = self.sweep(check=True)
        return {"attempted": len(lat), "failed": 0, "reads": lat}

    def layers(self, rounds: int) -> dict:
        tr = self.ctx.tracer
        return {
            "construct.s": sum(s["pre_job_s"] for s in tr.spans
                               if s["name"] == "build") / rounds,
            "catalyst.analysis_ms": self.phases["analysis"] / rounds,
            "catalyst.optimization_ms": self.phases["optimization"] / rounds,
            "catalyst.planning_ms": self.phases["planning"] / rounds,
            "collect.s": tr.total("execute_collect") / rounds,
            "collect.rows": self.collect_rows / rounds,
            "collect.bytes": self.collect_bytes / rounds,
        }

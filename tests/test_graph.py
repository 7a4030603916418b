"""Weighted PageRank (pipeline/graph.py)."""

import pytest
from pyspark.sql import functions as F

from steel_datafusion_spark.pipeline.graph import pagerank


def _edges(spark, rows, with_weight=False):
    schema = "src string, dst string" + (", w long" if with_weight else "")
    return spark.createDataFrame(rows, schema)


def test_pagerank_matches_dense_power_iteration(spark):
    import numpy as np

    # deterministic digraph incl. a dangling node "e" and parallel edges
    rows = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c"),
            ("a", "b"), ("c", "e")]
    names = ["a", "b", "c", "d", "e"]
    idx = {n: i for i, n in enumerate(names)}
    n, d, iters = len(names), 0.85, 10

    w = np.zeros((n, n))
    for s, t in rows:
        w[idx[s]][idx[t]] += 1.0
    out = w.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.zeros(n)
        dangling = 0.0
        for i in range(n):
            if out[i] == 0:
                dangling += r[i]
            else:
                contrib += r[i] * w[i] / out[i]
        r = (1 - d) / n + d * (contrib + dangling / n)

    got = {row.node: row.rank
           for row in pagerank(_edges(spark, rows), damping=d,
                               iterations=iters).collect()}
    assert set(got) == set(names)
    for name in names:
        assert got[name] == pytest.approx(r[idx[name]], rel=1e-9)
    # mass conservation (dangling handled): ranks sum to 1
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_uniform_on_ring(spark):
    rows = [("a", "b"), ("b", "c"), ("c", "a")]
    got = {r.node: r.rank
           for r in pagerank(_edges(spark, rows), iterations=5).collect()}
    assert all(v == pytest.approx(1.0 / 3, abs=1e-9) for v in got.values())


def test_pagerank_weights_shift_mass(spark):
    # a sends 9x more weight to b than to c
    rows = [("a", "b", 9), ("a", "c", 1), ("b", "a", 1), ("c", "a", 1)]
    got = {r.node: r.rank
           for r in pagerank(_edges(spark, rows, True), weight="w",
                             iterations=20).collect()}
    assert got["b"] > got["c"]
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_bucketed_matches_plain(spark):
    from steel_datafusion_spark.pipeline.graph import (
        pagerank, pagerank_bucketed,
    )
    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 2.0), (3, 1, 1.0), (4, 1, 1.0), (2, 1, 0.5),
         (5, 5, 1.0), (6, 2, 3.0)],
        "src long, dst long, w double")
    plain = {r.node: r.rank for r in
             pagerank(edges, weight="w", iterations=4).collect()}
    buck = {r.node: r.rank for r in
            pagerank_bucketed(edges, "pr_bt", weight="w",
                              iterations=4).collect()}
    assert plain == buck and len(plain) == 6


def test_pagerank_bucketed_edge_join_is_shuffle_free(spark):
    from pyspark.sql import functions as F

    from steel_datafusion_spark.pipeline.graph import pagerank_bucketed

    edges = spark.createDataFrame(
        [(i, (i * 7) % 50, 1.0) for i in range(200)],
        "src long, dst long, w double")
    pagerank_bucketed(edges, "pr_plan", weight="w", iterations=1)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        trans_t = spark.table("pr_plan_trans")
        nodes_t = spark.table("pr_plan_nodes")
        # one rank-onto-edges iteration join exactly as _pr_iteration
        # builds it, from the bucketed scans
        ranks = nodes_t.select("node", F.lit(0.01).alias("rank"))
        contrib = (ranks.join(trans_t, ranks["node"] == trans_t["src"])
                   .select("dst", (F.col("rank") * F.col("p")).alias("c"))
                   .groupBy("dst").agg(F.sum("c").alias("c_sum")))
        plan = contrib._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, f"expected SMJ in:\n{plan[:2000]}"
        # the |E|-scale side (bucketed trans scan) and the rank side
        # (bucketed nodes scan) must both reach the join with NO Exchange;
        # the only Exchange is the contribution aggregate on dst
        assert "Exchange hashpartitioning(src" not in plan
        assert "Exchange hashpartitioning(node" not in plan
        assert plan.count("Exchange") == 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        if old_aqe is not None:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe)


# ---------------------------------------------------------------------------
# Triangle counting
# ---------------------------------------------------------------------------

def test_triangle_count_planted(spark):
    from steel_datafusion_spark.pipeline.graph import triangle_count

    # K4 on {a,b,c,d} (4 triangles, each node in 3) plus a pendant edge and
    # a disconnected pair; direction/multiplicity/self-loops must not matter
    rows = [("a", "b"), ("b", "a"), ("a", "c"), ("a", "d"), ("b", "c"),
            ("b", "d"), ("c", "d"), ("d", "e"), ("x", "y"), ("a", "a")]
    got = {r["node"]: r["triangles"]
           for r in triangle_count(_edges(spark, rows)).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}


def test_triangle_count_star_is_zero(spark):
    from steel_datafusion_spark.pipeline.graph import triangle_count

    # hub with 30 spokes: no triangles, and the degree orientation points
    # every edge INTO the hub so the hub key generates zero wedges
    rows = [("hub", f"s{i}") for i in range(30)]
    assert triangle_count(_edges(spark, rows)).count() == 0


def test_triangle_count_matches_duckdb_mirror(spark):
    import duckdb

    from steel_datafusion_spark.pipeline.graph import (
        sql_triangle_count, triangle_count,
    )

    rows = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "a"),
            ("b", "d"), ("d", "e"), ("e", "f"), ("f", "d"), ("a", "e")]
    spark_out = sorted(
        (r["node"], r["triangles"])
        for r in triangle_count(_edges(spark, rows)).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE edges (src VARCHAR, dst VARCHAR)")
    con.executemany("INSERT INTO edges VALUES (?, ?)", rows)
    duck_out = sorted(con.execute(
        f"WITH {sql_triangle_count('edges').lstrip()} "
        "SELECT node, triangles FROM tc_out").fetchall())
    assert spark_out == duck_out


# ---------------------------------------------------------------------------
# Label propagation
# ---------------------------------------------------------------------------

def test_lpa_two_cliques_converge_to_min_member(spark):
    from steel_datafusion_spark.pipeline.graph import label_propagation

    def clique(names):
        return [(a, b) for a in names for b in names if a < b]

    rows = clique(["a1", "a2", "a3", "a4"]) + clique(["z1", "z2", "z3"])
    got = {r["node"]: r["label"]
           for r in label_propagation(_edges(spark, rows),
                                      iterations=4).collect()}
    assert {got[n] for n in ("a1", "a2", "a3", "a4")} == {"a1"}
    assert {got[n] for n in ("z1", "z2", "z3")} == {"z1"}


def test_lpa_tie_breaks_to_smallest_label(spark):
    from steel_datafusion_spark.pipeline.graph import label_propagation

    # m's neighbors are a and b (one vote each): one step picks min("a","b")
    got = {r["node"]: r["label"]
           for r in label_propagation(_edges(spark, [("a", "m"), ("b", "m")]),
                                      iterations=1).collect()}
    assert got["m"] == "a"
    # a and b each see only m
    assert got["a"] == got["b"] == "m"


def test_lpa_drops_direction_multiplicity_and_self_loops(spark):
    from steel_datafusion_spark.pipeline.graph import label_propagation

    # 5 parallel b->m edges must not outvote {a,c}; self-loop ignored
    rows = [("b", "m")] * 5 + [("m", "a"), ("c", "m"), ("m", "m")]
    got = {r["node"]: r["label"]
           for r in label_propagation(_edges(spark, rows),
                                      iterations=1).collect()}
    assert got["m"] == "a"     # one vote each from a, b, c -> min


def test_lpa_matches_duckdb_mirror(spark):
    import duckdb

    from steel_datafusion_spark.pipeline.graph import (
        label_propagation, sql_label_propagation,
    )

    rows = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
            ("d", "e"), ("e", "f"), ("f", "d"), ("x", "y")]
    spark_out = sorted(
        (r["node"], r["label"])
        for r in label_propagation(_edges(spark, rows),
                                   iterations=3).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE g(src VARCHAR, dst VARCHAR)")
    con.executemany("INSERT INTO g VALUES (?, ?)", rows)
    body = sql_label_propagation("g", iterations=3)
    duck = sorted(map(tuple, con.execute(
        f"WITH {body.lstrip()} SELECT node, label FROM lp_out").fetchall()))
    assert spark_out == duck


# ---------------------------------------------------------------------------
# Iteration barriers
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("algo", ["pagerank", "pagerank_bucketed",
                                  "label_propagation"])
def test_iterative_graph_leaves_no_cache(spark, algo):
    """Each power/propagation step frees the barrier it supersedes: once
    the result is collected and its own checkpoint and the tracked edge
    caches are released, no RDD this call persisted is still held.
    (Compares ids, not counts — earlier tests' checkpoint blocks may be
    freed by the ContextCleaner at any GC.)"""
    from steel_datafusion_spark.cache import release_all, \
        release_local_checkpoint
    from steel_datafusion_spark.pipeline import graph

    release_all(spark)
    spark.catalog.clearCache()

    def persisted_ids():
        return {int(i) for i in
                spark.sparkContext._jsc.getPersistentRDDs().keySet()}

    base = persisted_ids()
    edges = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a"),
                           ("c", "d"), ("d", "e")])
    if algo == "pagerank_bucketed":
        out = graph.pagerank_bucketed(edges, "pr_nocache", iterations=4)
    else:
        out = getattr(graph, algo)(edges, iterations=4)
    out.collect()
    assert release_local_checkpoint(out) == 1
    release_all(spark)
    assert persisted_ids() - base == set()

"""Graph algorithms over DataFrame edge lists: weighted PageRank,
degree-ordered triangle counting, and deterministic label propagation.

Beyond-reference surface for the LLM-training-data north star: link-graph
authority is a classic corpus-quality prior (a page's rank feeds crawl
scheduling and quality classifiers), and the same power iteration scores
any entity graph the pipeline builds — event-type transition graphs,
near-dup cluster graphs, citation graphs.

Pure DataFrame power iteration — no GraphX/graphframes dependency:

- edges normalize once to per-source transition probabilities
  (``w / out_w``);
- each iteration joins ranks onto edges by source (key-partitioned
  shuffle), aggregates contributions by destination (second shuffle), adds
  the teleport term and the dangling-node mass (a 1-row broadcast
  aggregate), and lineage-truncates through ``cache.iteration_barrier``
  exactly like k-means/connected-components (``reliable=True`` for
  executor-loss-safe multi-hour runs), releasing each superseded round.

At 100 TB the per-iteration cost is two shuffles keyed on node id; edges
are re-used from cache every round (persisted once), ranks are |V| rows.
Pre-partitioning edges and ranks on the same key (bucketing) makes the
rank-onto-edges join shuffle-free, leaving one exchange per iteration.

Determinism / oracle parity: per-edge contributions are rounded to 14dp
and summed as exact decimals (order-independent), and the new rank rounds
to 12dp each iteration — the DuckDB oracle unrolls the same arithmetic per
iteration and matches bit-for-bit (the repo-wide rounded-before-aggregate
convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import iteration_barrier, release_local_checkpoint, track

__all__ = ["pagerank", "pagerank_bucketed", "sql_pagerank",
           "triangle_count", "sql_triangle_count",
           "label_propagation", "sql_label_propagation"]


def _pr_iteration(ranks: DataFrame, trans: DataFrame, nodes: DataFrame,
                  teleport: float, damping: float,
                  n: int) -> DataFrame:
    """One power step — shared by ``pagerank`` (cached frames) and
    ``pagerank_bucketed`` (bucketed tables): join ranks onto transitions by
    source, aggregate contributions by destination, add teleport + dangling
    mass (1-row broadcast).  ``ranks`` and ``nodes`` both carry a static
    ``_has_out`` flag column (null = dangling), so the dangling mass is a
    filter + 1-row aggregate over the checkpointed ranks — the per-iteration
    ranks⋈has_out join the previous shape paid is gone.  Arithmetic is the
    rounded-before-aggregate convention, identical in both callers and the
    SQL oracle."""
    contrib = (ranks.join(trans, ranks["node"] == trans["src"])
               .select("dst",
                       F.round(F.col("rank") * F.col("p"), 14)
                       .cast("decimal(32,14)").alias("c"))
               .groupBy("dst")
               .agg(F.sum("c").alias("c_sum")))
    dangling = (ranks.filter(F.col("_has_out").isNull())
                .agg(F.coalesce(
                    F.sum(F.round(F.col("rank"), 14)
                          .cast("decimal(32,14)")),
                    F.lit(0).cast("decimal(32,14)")).alias("d_mass")))
    return (nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                F.round(
                    F.lit(teleport)
                    + F.lit(damping)
                    * (F.coalesce(F.col("c_sum"),
                                  F.lit(0).cast("decimal(32,14)"))
                       .cast("double")
                       + F.col("d_mass").cast("double") / F.lit(n)),
                    12).alias("rank"),
                "_has_out"))


def pagerank(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    weight: str | None = None, damping: float = 0.85,
    iterations: int = 10, reliable: bool = False,
) -> DataFrame:
    """(node, rank): weighted PageRank after ``iterations`` power steps.

    Nodes are the distinct union of sources and destinations; parallel
    edges merge by summing weights.  Dangling nodes (no out-edges) spread
    their mass uniformly, so total rank stays 1 (up to the documented
    rounding).  Uniform initial rank 1/N.
    """
    w = (F.col(weight).cast("double") if weight is not None
         else F.lit(1.0))
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"),
                      w.alias("w"))
         .groupBy("src", "dst").agg(F.sum("w").alias("w")))
    out_w = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    # loop-invariant frames are cached PRE-PARTITIONED on their
    # per-iteration join key (r15, guide §2.4): once |V| outgrows the
    # broadcast threshold the ranks⋈trans join is a shuffle join, and an
    # unaligned cache would re-exchange the full edge list EVERY power
    # step — partitioning the cache by the join key pays one exchange at
    # build time instead of one per iteration.  Partition count = the
    # session shuffle partitions, so the cached layout satisfies exactly
    # the ClusteredDistribution the join asks for.
    parts = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # transition probability per edge, fixed for every iteration
    trans = track(
        e.join(out_w, "src")
        .select("src", "dst", (F.col("w") / F.col("out_w")).alias("p"))
        .repartition(parts, "src")
        .persist())

    # node set with the static has-out-edges flag attached ONCE (null =
    # dangling): every iteration's dangling mass is then a filter over the
    # checkpointed ranks instead of a ranks⋈has_out join per power step
    has_out = out_w.select(F.col("src").alias("node"),
                           F.lit(True).alias("_has_out"))
    nodes = track(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .join(has_out, "node", "left")
        .repartition(parts, "node")
        .persist())
    n = nodes.count()
    if n == 0:
        return nodes.select("node", F.lit(0.0).alias("rank"))
    teleport = (1.0 - damping) / n

    ranks = nodes.select("node", F.round(F.lit(1.0 / n), 12).alias("rank"),
                         "_has_out")
    for i in range(iterations):
        new = iteration_barrier(
            _pr_iteration(ranks, trans, nodes, teleport, damping, n),
            reliable=reliable)
        if i:  # superseded barrier; never the caller-derived start
            release_local_checkpoint(ranks)
        ranks = new
    return ranks.select("node", "rank")


def pagerank_bucketed(
    edges: DataFrame, name: str, src: str = "src", dst: str = "dst",
    weight: str | None = None, damping: float = 0.85,
    iterations: int = 10, reliable: bool = False, n_buckets: int = 8,
) -> DataFrame:
    """PageRank over PRE-BUCKETED tables: transitions and nodes (carrying
    the has-out-edges flag) are written ONCE as managed tables bucketed
    (and sorted) on their join keys (``{name}_trans`` by src,
    ``{name}_nodes`` by node — sources/bucketing.py layout), and
    every iteration joins against the bucketed scans.

    Why: in plain ``pagerank`` each iteration exchanges BOTH the rank
    frame and (logically) aligns against cached transitions — two
    node-keyed shuffles per iteration.  With the bucket layout the
    rank-onto-edges join plans with NO Exchange above the edge-table scan
    (the |E|-scale side — the one that matters at 100 TB), leaving the
    contribution aggregate as the only |E|-scale exchange per iteration;
    tests/test_graph.py asserts the Exchange-free edge side on the real
    plan with broadcast disabled.  Results are bit-identical to
    ``pagerank`` (same ``_pr_iteration`` arithmetic, same oracle).

    Cost model: the bucketed write is one extra pass over the edges, paid
    back after ~2 iterations; use plain ``pagerank`` for one-shot small
    graphs, this for big graphs or reruns over a stable edge set.  Size
    ``n_buckets`` to cluster parallelism (thousands at 100 TB)."""
    from ..sources.bucketing import drop_managed_table, write_bucketed

    spark = edges.sparkSession
    w = (F.col(weight).cast("double") if weight is not None
         else F.lit(1.0))
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"),
                      w.alias("w"))
         .groupBy("src", "dst").agg(F.sum("w").alias("w")))
    out_w = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    trans = (e.join(out_w, "src")
             .select("src", "dst", (F.col("w") / F.col("out_w")).alias("p")))
    # the static has-out-edges flag rides the bucketed nodes table (null =
    # dangling) — one bucketed write fewer, and no per-iteration
    # ranks⋈has_out join (the dangling mass is a filter over ranks)
    has_out = out_w.select(F.col("src").alias("node"),
                           F.lit(True).alias("_has_out"))
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node"))).distinct()
             .join(has_out, "node", "left"))
    for t in (f"{name}_trans", f"{name}_nodes", f"{name}_hasout"):
        drop_managed_table(spark, t)  # _hasout: legacy layout cleanup
    write_bucketed(trans, f"{name}_trans", ["src"], n_buckets,
                   sort_cols=["src"])
    write_bucketed(nodes, f"{name}_nodes", ["node"], n_buckets,
                   sort_cols=["node"])
    trans_t = spark.table(f"{name}_trans")
    nodes_t = spark.table(f"{name}_nodes")

    n = nodes_t.count()
    if n == 0:
        return nodes_t.select("node", F.lit(0.0).alias("rank"))
    teleport = (1.0 - damping) / n
    ranks = nodes_t.select("node", F.round(F.lit(1.0 / n), 12).alias("rank"),
                           "_has_out")
    for i in range(iterations):
        new = iteration_barrier(
            _pr_iteration(ranks, trans_t, nodes_t,
                          teleport, damping, n),
            reliable=reliable)
        if i:  # superseded barrier; never the table-derived start
            release_local_checkpoint(ranks)
        ranks = new
    return ranks.select("node", "rank")


def sql_pagerank(edges_rel: str, src: str = "src", dst: str = "dst",
                 weight: str | None = None, damping: float = 0.85,
                 iterations: int = 10, prefix: str = "pr") -> str:
    """DuckDB CTE body mirroring ``pagerank`` iteration-for-iteration;
    exposes ``{prefix}_out`` with (node, rank).  ``edges_rel`` is an
    existing relation with the src/dst(/weight) columns."""
    w = f"{weight}::DOUBLE" if weight is not None else "1.0"
    # (1 - damping) precomputed in PYTHON and embedded via repr: DuckDB
    # would otherwise evaluate `1.0 - 0.85` in exact DECIMAL (0.15) where
    # Python/Spark compute the double 0.15000000000000002 — a 1-ulp input
    # difference that could flip the 12dp round on boundary values
    one_minus_d = repr(1.0 - damping)
    # Every CTE is AS MATERIALIZED: each r{i+1} references r{i} more than
    # once, and DuckDB's default CTE inlining would otherwise expand the
    # unrolled chain exponentially (observed: 10 iterations never finish;
    # materialized, the whole chain runs in milliseconds).
    parts = [f"""
{prefix}_e AS MATERIALIZED (
  SELECT {src} AS src, {dst} AS dst, SUM({w}) AS w
  FROM {edges_rel} GROUP BY 1, 2
),
{prefix}_outw AS MATERIALIZED (
  SELECT src, SUM(w) AS out_w FROM {prefix}_e GROUP BY src
),
{prefix}_trans AS MATERIALIZED (
  SELECT src, dst, w / out_w AS p FROM {prefix}_e JOIN {prefix}_outw USING (src)
),
{prefix}_nodes AS MATERIALIZED (
  SELECT src AS node FROM {prefix}_e UNION SELECT dst FROM {prefix}_e
),
{prefix}_n AS MATERIALIZED (SELECT COUNT(*)::DOUBLE AS n FROM {prefix}_nodes),
{prefix}_r0 AS MATERIALIZED (
  SELECT node, round(1.0 / n, 12) AS rank FROM {prefix}_nodes, {prefix}_n
)"""]
    last = f"{prefix}_r0"  # iterations=0 → initial ranks (parity with pagerank)
    for i in range(iterations):
        prev, cur = f"{prefix}_r{i}", f"{prefix}_r{i + 1}"
        parts.append(f"""
{cur}_c AS MATERIALIZED (
  SELECT t.dst, SUM(round(r.rank * t.p, 14)::DECIMAL(32,14)) AS c_sum
  FROM {prev} r JOIN {prefix}_trans t ON r.node = t.src GROUP BY t.dst
),
{cur}_d AS MATERIALIZED (
  SELECT coalesce(SUM(round(r.rank, 14)::DECIMAL(32,14)),
                  0::DECIMAL(32,14)) AS d_mass
  FROM {prev} r LEFT JOIN {prefix}_outw o ON r.node = o.src
  WHERE o.src IS NULL
),
{cur} AS MATERIALIZED (
  SELECT nd.node,
    round({one_minus_d} / n.n
          + {damping} * (coalesce(c.c_sum, 0::DECIMAL(32,14))::DOUBLE
                         + d.d_mass::DOUBLE / n.n), 12) AS rank
  FROM {prefix}_nodes nd
  LEFT JOIN {cur}_c c ON nd.node = c.dst
  CROSS JOIN {cur}_d d CROSS JOIN {prefix}_n n
)""")
        last = cur
    parts.append(f"\n{prefix}_out AS (SELECT node, rank FROM {last})")
    return ",".join(parts)


# ---------------------------------------------------------------------------
# Triangle counting — degree-ordered edge orientation
# ---------------------------------------------------------------------------

def triangle_count(edges: DataFrame, src: str = "src",
                   dst: str = "dst") -> DataFrame:
    """(node, triangles): per-node triangle counts of the undirected simple
    graph induced by ``edges`` (direction and multiplicity are dropped;
    self-loops ignored).

    Plan — the classic degree-ordered orientation that keeps the pair join
    subquadratic on skewed graphs (the same idea as Suri & Vassilvitskii's
    MR triangle counting): orient every undirected edge from the endpoint
    with the smaller (degree, node) pair to the larger.  Every node's
    out-degree in the oriented graph is then O(sqrt(|E|)) regardless of its
    raw degree, so the wedge-building self-join on the oriented source
    produces at most sum(outdeg²) = O(|E|^1.5) candidate wedges — a hub
    with 10⁷ neighbors contributes zero wedges from its own key because
    almost all of its edges point INTO it.  The closing join probes wedges
    against the canonical undirected edge set (shuffle on the (lo, hi)
    pair key).  Total: four |E|-scale shuffles (edge distinct, degree agg,
    wedge join, closing join), no driver-side state.

    Each triangle {a, b, c} is found exactly once (at its smallest-ordered
    apex); the per-node counts re-explode the found triangles to their
    three corners.  Nodes in no triangle are absent (sparse result —
    left-join + coalesce for a dense view).
    """
    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
         .filter(F.col("a") != F.col("b")))
    # One canonical row per undirected edge (lo < hi): this set feeds the
    # degree aggregate, the orientation join, AND the closing probe (the
    # original derived a doubled `und` frame plus a separate union+distinct
    # `closing` frame from it — two extra |E|-scale exchanges that carry no
    # information the canonical set lacks).  Persisted: three consumers.
    und = track(
        e.select(F.least("a", "b").alias("lo"),
                 F.greatest("a", "b").alias("hi"))
        .distinct().persist())
    # degree from the canonical set: explode both endpoints map-side (narrow
    # long rows) into one partially-aggregated groupBy — no doubled frame.
    deg = (und.select(F.explode(F.array("lo", "hi")).alias("n_"))
           .groupBy("n_").agg(F.count(F.lit(1)).alias("deg")))
    # orient: keep (u, v) iff (deg_u, u) < (deg_v, v).  lo < hi always, so
    # on a degree tie the edge keeps its (lo, hi) direction.
    dlo = deg.select(F.col("n_").alias("lo"), F.col("deg").alias("dlo"))
    dhi = deg.select(F.col("n_").alias("hi"), F.col("deg").alias("dhi"))
    oriented = track(
        (und.join(dlo, "lo").join(dhi, "hi")
         .select(F.when(F.col("dlo") > F.col("dhi"), F.col("hi"))
                 .otherwise(F.col("lo")).alias("a"),
                 F.when(F.col("dlo") > F.col("dhi"), F.col("lo"))
                 .otherwise(F.col("hi")).alias("b"))).persist())
    # wedges: two oriented edges out of the same apex; order the far ends
    # so the wedge key matches the canonical closing edge exactly once
    e1 = oriented.select(F.col("a").alias("apex"), F.col("b").alias("u"))
    e2 = oriented.select(F.col("a").alias("apex"), F.col("b").alias("v"))
    wedges = e1.join(e2, "apex").filter(F.col("u") < F.col("v"))
    # closing probe: wedge far ends (u < v) form a triangle iff {u, v} is an
    # edge — membership in the canonical (lo, hi) set directly.
    tris = wedges.join(
        und, (F.col("u") == F.col("lo")) & (F.col("v") == F.col("hi")))
    # each triangle contributes one count to each of its three corners;
    # explode keeps it a single pass over tris (a 3-way union of projections
    # would re-run the closing join once per branch — the joins above an
    # exchange are not deduplicated by reuse, only the exchanges are).
    return (tris.select(F.explode(F.array("apex", "u", "v")).alias("node"))
            .groupBy("node").agg(F.count(F.lit(1)).alias("triangles")))


def sql_triangle_count(edges_rel: str, src: str = "src",
                       dst: str = "dst", prefix: str = "tc") -> str:
    """DuckDB CTE chain mirroring :func:`triangle_count` exactly (same
    orientation rule, same wedge/closing joins) — `{prefix}_out` is the
    final (node, triangles) relation."""
    return f"""
{prefix}_e AS (
  SELECT {src} AS a, {dst} AS b FROM {edges_rel} WHERE {src} <> {dst}
),
{prefix}_und AS (
  SELECT a, b FROM {prefix}_e UNION SELECT b, a FROM {prefix}_e
),
{prefix}_deg AS (
  SELECT a AS n_, COUNT(*) AS deg FROM {prefix}_und GROUP BY a
),
{prefix}_orient AS (
  SELECT u.a, u.b FROM {prefix}_und u
  JOIN {prefix}_deg x ON x.n_ = u.a
  JOIN {prefix}_deg y ON y.n_ = u.b
  WHERE x.deg < y.deg OR (x.deg = y.deg AND u.a < u.b)
),
{prefix}_wedge AS (
  SELECT e1.a AS apex, e1.b AS u, e2.b AS v
  FROM {prefix}_orient e1 JOIN {prefix}_orient e2 ON e1.a = e2.a
  WHERE e1.b < e2.b
),
{prefix}_close AS (
  SELECT DISTINCT least(a, b) AS cu, greatest(a, b) AS cv
  FROM {prefix}_orient
),
{prefix}_tri AS (
  SELECT apex, u, v FROM {prefix}_wedge
  JOIN {prefix}_close ON u = cu AND v = cv
),
{prefix}_out AS (
  SELECT node, COUNT(*) AS triangles FROM (
    SELECT apex AS node FROM {prefix}_tri
    UNION ALL SELECT u FROM {prefix}_tri
    UNION ALL SELECT v FROM {prefix}_tri
  ) GROUP BY node
)"""


# ---------------------------------------------------------------------------
# Label propagation — synchronous, deterministic community detection
# ---------------------------------------------------------------------------

def label_propagation(edges: DataFrame, src: str = "src", dst: str = "dst",
                      iterations: int = 4,
                      reliable: bool = False) -> DataFrame:
    """(node, label): communities after ``iterations`` synchronous label
    propagation steps over the undirected simple graph induced by
    ``edges`` (direction, multiplicity, self-loops dropped).

    Deterministic LPA variant: every node starts labeled with its own id;
    each step relabels every node with the MOST FREQUENT label among its
    neighbors, ties broken by the SMALLEST label.  Fixed synchronous
    steps + a total tie order make the result a pure function of the edge
    set — no randomized visit order, so the DuckDB oracle can unroll the
    same steps and match hash-exactly (all-integer/string arithmetic, no
    float rounding at all).

    Plan, per iteration (ONE |E|-scale shuffle — r16): join labels onto
    the symmetrized edge list by source (the edge cache is
    pre-partitioned on src, so the |E| side never re-exchanges; the
    checkpointed |V|-row label side re-exchanges once labels outgrow the
    broadcast threshold — ``localCheckpoint`` under AQE does not preserve
    the previous round's partitioning, the same behavior as pagerank's
    rank frame), then ONE explicit hash repartition of the (dst, label)
    pairs on dst feeds BOTH aggregations: the per-(node, label) count and
    the per-node winner — ``min(struct(-count, label))``, the
    (count DESC, label ASC) order encoded as a struct min.  Hash
    partitioning on dst alone satisfies the (dst, label) grouping (a
    subset key clusters every (dst, label) group), so neither aggregation
    plans its own exchange above it; the previous shape paid one exchange
    per groupBy — two per iteration (r15: window → struct-min, 7.3→5.4 s;
    r16: fused exchanges, one |E|-scale shuffle of narrow (id, label)
    rows instead of a partial-agg'd pair shuffle PLUS a distinct-
    (node, label)-scale shuffle, identical output; plan evidence in
    plans/r16/label_propagation_iter_*.txt).  A struct-min aggregation
    rather than a ``row_number`` window because a window would SORT every
    node's candidate list; the struct min never sorts.  The winner
    aggregation is bounded by node degree, labels stay |V| rows, edges
    persist once, and ``cache.iteration_barrier`` truncates lineage every
    round exactly like k-means / connected-components / pagerank.
    """
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
         .filter(F.col("src") != F.col("dst")))
    # cached pre-partitioned on the per-iteration join key — see pagerank
    # (r15): avoids re-exchanging the full symmetrized edge list every
    # step once labels outgrow the broadcast threshold.  Symmetrize via a
    # map-side explode (a union of two projections re-runs the caller's
    # edge-building join once per branch — r16, the triangle_count/
    # small-star lesson), and repartition on src BEFORE the distinct:
    # HashPartitioning(src) clusters every (src, dst) group (subset key),
    # so the dedup aggregation plans no exchange of its own and the cache
    # comes out already laid out on the per-iteration join key — one
    # exchange where union→distinct→repartition paid two.
    parts = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    und = track(
        e.select(F.explode(F.array(
            F.struct(F.col("src"), F.col("dst")),
            F.struct(F.col("dst").alias("src"),
                     F.col("src").alias("dst")))).alias("_e"))
        .select("_e.src", "_e.dst")
        .repartition(parts, "src")
        .distinct().persist())
    nodes = track(und.select(F.col("src").alias("node")).distinct()
                  .persist())
    labels = nodes.select("node", F.col("node").alias("label"))

    for i in range(iterations):
        new = iteration_barrier(
            und.join(labels, und["src"] == labels["node"])
            .select(F.col("dst").alias("nb_node"), "label")
            .repartition(parts, "nb_node")
            .groupBy("nb_node", "label")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("nb_node")
            .agg(F.min(F.struct((-F.col("c")).alias("_neg_c"),
                                F.col("label"))).alias("_win"))
            .select(F.col("nb_node").alias("node"),
                    F.col("_win.label").alias("label")),
            reliable=reliable)
        if i:  # superseded barrier; never the caller-derived start
            release_local_checkpoint(labels)
        labels = new
    return labels


def sql_label_propagation(edges_rel: str, src: str = "src",
                          dst: str = "dst", iterations: int = 4,
                          prefix: str = "lp") -> str:
    """DuckDB CTE body mirroring ``label_propagation`` step-for-step;
    exposes ``{prefix}_out`` with (node, label).  Every round is
    AS MATERIALIZED — each references its predecessor twice, and default
    CTE inlining would expand the unrolled chain exponentially (the
    sql_pagerank lesson)."""
    parts = [f"""
{prefix}_e AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT {src} AS src, {dst} AS dst FROM {edges_rel}
    UNION ALL
    SELECT {dst} AS src, {src} AS dst FROM {edges_rel})
  WHERE src <> dst
),
{prefix}_l0 AS MATERIALIZED (
  SELECT DISTINCT src AS node, src AS label FROM {prefix}_e
)"""]
    last = f"{prefix}_l0"
    for i in range(iterations):
        prev, cur = f"{prefix}_l{i}", f"{prefix}_l{i + 1}"
        parts.append(f"""
{cur}_c AS MATERIALIZED (
  SELECT e.dst AS node, l.label, COUNT(*) AS c
  FROM {prefix}_e e JOIN {prev} l ON e.src = l.node
  GROUP BY e.dst, l.label
),
{cur} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
      row_number() OVER (PARTITION BY node
                         ORDER BY c DESC, label ASC) AS rn
    FROM {cur}_c) WHERE rn = 1
)""")
        last = cur
    parts.append(f"\n{prefix}_out AS (SELECT node, label FROM {last})")
    return ",".join(parts)

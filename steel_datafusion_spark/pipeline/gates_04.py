"""Pipeline gate registry, part 4/5 (see pipeline/queries.py for the catalog contract)."""

from .gates_common import *  # noqa: F401,F403
from .gates_01 import *  # noqa: F401,F403
from .gates_02 import *  # noqa: F401,F403
from .gates_03 import *  # noqa: F401,F403



def _sql_incremental_agg() -> str:
    from .cdc import sql_agg_state

    body = sql_agg_state(
        "(SELECT o_custkey % 500 AS kg, o_totalprice FROM orders)",
        ["kg"], "o_totalprice")
    return f"""
WITH full_state AS ({body})
SELECT kg, n, s::DOUBLE AS total, mn, mx,
  round(s::DOUBLE / n, 6) AS avg
FROM full_state
"""


def q_association_rules(spark, sf_dir):
    """Market-basket association rules (pipeline/basket.py): co-purchased
    part groups per order with support / confidence / lift from exact
    counts.  The pair join keys on the BASKET, so fan-out is bounded by
    basket size (the max_basket occupancy cap guards pathological
    baskets); items never key a join before counting."""
    from .basket import association_rules

    li = (load_tables(spark, sf_dir)["lineitem"]
          .select("l_orderkey", (F.col("l_partkey") % 97).alias("pg")))
    return association_rules(li, "l_orderkey", "pg",
                             min_pair_count=30, max_basket=50)


def _sql_association_rules() -> str:
    from .basket import sql_association_rules

    return sql_association_rules(
        "(SELECT l_orderkey, l_partkey % 97 AS pg FROM lineitem)",
        "l_orderkey", "pg", min_pair_count=30, max_basket=50)


def q_label_propagation(spark, sf_dir):
    """Deterministic label-propagation communities (pipeline/graph.py
    label_propagation: synchronous steps, mode-of-neighbors with min-label
    tie-break) over the bipartite customer—supplier trade graph
    (orders ⋈ lineitem over the 1998 order tail, node ids prefixed
    'c'/'s').  All-integer/string
    arithmetic, so the unrolled DuckDB oracle matches hash-exactly; the
    operator's per-iteration cost is two node-key shuffles regardless of
    |V| (see module docstring)."""
    from .graph import label_propagation

    t = load_tables(spark, sf_dir)
    edges = (t["lineitem"].select("l_orderkey", "l_suppkey")
             .join(t["orders"]
                   .filter(F.col("o_orderdate") >= "1998-01-01")
                   .select("o_orderkey", "o_custkey"),
                   F.col("l_orderkey") == F.col("o_orderkey"))
             .select(
                 F.concat(F.lit("c"),
                          F.col("o_custkey").cast("string")).alias("src"),
                 F.concat(F.lit("s"),
                          F.col("l_suppkey").cast("string")).alias("dst")))
    return label_propagation(edges, iterations=4)


def _sql_label_propagation_gate() -> str:
    from .graph import sql_label_propagation

    body = sql_label_propagation("lp_edges", iterations=4)
    return f"""
WITH lp_edges AS (
  SELECT 'c' || o_custkey::VARCHAR AS src,
         's' || l_suppkey::VARCHAR AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderdate >= DATE '1998-01-01'
),{body}
SELECT node, label FROM lp_out
"""


_STREAM_SRC_BUILT: set = set()


def _events_stream_src(spark, sf_dir) -> tuple[str, str]:
    """(scratch base, events stream source dir), the source landed once
    per (app, sf_dir) and again whenever it was removed."""
    import shutil

    from ..queries import scratch_dir
    base = scratch_dir(spark, sf_dir, "stream_gate")
    src = _os.path.join(base, "src")
    key = (spark.sparkContext.applicationId, _os.path.abspath(sf_dir))
    if key not in _STREAM_SRC_BUILT or not _os.path.exists(src):
        shutil.rmtree(base, ignore_errors=True)
        load_tables(spark, sf_dir)["events"].write.mode(
            "overwrite").parquet(src)
        _STREAM_SRC_BUILT.add(key)
    return base, src


def q_streaming_sessions(spark, sf_dir):
    """Structured Streaming session rollup as a HASH gate (the streaming
    surface previously had only batch-parity tests): events re-land once
    per (session, sf_dir) as a µs-timestamp parquet stream source, a REAL
    streaming query (``F.session_window`` + 2 h watermark,
    trigger=availableNow) runs to completion through ``foreachBatch`` into
    parquet (streaming/operators.py run_stream_to_parquet), and the
    WRITTEN files read back are the result.  Append mode emits exactly
    the sessions finalized by the end-of-stream watermark (session_end ≤
    max(ts) − 2 h); the oracle is an independent DuckDB sessionization
    with the same strict-gap semantics and cutoff.  sum_value routes
    through exact decimals inside the streaming aggregate, so the hash is
    partition- and trigger-order-independent."""
    import tempfile
    import uuid

    from ..streaming.operators import (
        read_stream_parquet, run_stream_to_parquet, stream_state_partitions, session_rollup,
    )

    base, src = _events_stream_src(spark, sf_dir)
    run_id = uuid.uuid4().hex[:8]
    out = _os.path.join(base, f"out-{run_id}")
    ckpt = _os.path.join(base, f"ckpt-{run_id}")
    batch = spark.read.parquet(src)
    stream = read_stream_parquet(spark, src, batch.schema)
    got = run_stream_to_parquet(
        session_rollup(stream, gap="30 minutes"), out, ckpt,
        state_partitions=stream_state_partitions(spark, src))
    return got.select("user_id", "session_start", "session_end",
                      "n_events", F.round("sum_value", 6).alias("sum_value"))


_SQL_STREAMING_SESSIONS = """
WITH g AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
           OR date_diff('microsecond', lag(ts) OVER w, ts)
              >= 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, ts, value,
    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM g),
sess AS (
  SELECT user_id, MIN(ts) AS session_start,
         MAX(ts) + INTERVAL 30 MINUTE AS session_end,
         COUNT(*) AS n_events,
         round(CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE), 6)
           AS sum_value
  FROM s GROUP BY user_id, sid)
SELECT user_id, session_start, session_end, n_events, sum_value
FROM sess
WHERE session_end <= (SELECT MAX(ts) - INTERVAL 2 HOUR FROM events)
"""


def q_dsir_select(spark, sf_dir):
    """DSIR importance resampling (pipeline/selection.py, Xie et al.
    arXiv:2302.03169): select the 100 non-English documents whose hashed
    unigram+bigram feature distribution is most English-like, by Gumbel
    top-k over importance log-weights (target model: lang='en' docs;
    pool model: the rest; 2048 hashed buckets, add-0.5 smoothing).

    Scale: both models are bucket-bounded aggregations (2048 rows max
    regardless of corpus size); the LLR table broadcasts to the scoring
    join; the only doc-keyed shuffle is the per-doc weight sum; the
    Gumbel draw is a pure function of (doc_id, seed), so the weighted
    sample is reproducible — and hash-checked — in the oracle."""
    from .selection import dsir_select

    d = load_tables(spark, sf_dir)["documents"]
    return dsir_select(d, F.col("lang") == "en", k=100,
                       n_buckets=2048, seed=7)


def _sql_dsir_select() -> str:
    from .selection import sql_dsir_select

    return sql_dsir_select("documents", "lang = 'en'", 100,
                           n_buckets=2048, seed=7)


def q_logreg_quality(spark, sf_dir):
    """Quality-classifier TRAINING (pipeline/classifier.py): logistic
    regression by 20 full-batch GD iterations over bounded text features
    (stopword/punct ratios, capped token/char counts), label = long-doc
    (n_chars ≥ 300 — learnable through the capped char feature, so the
    gate demonstrates CONVERGENCE: ~0.99 train accuracy vs a 0.51 base
    rate, not just a weight trajectory).  This is the training half of
    the fastText-style filter whose inference half is the
    quality_classifier gate.  Each iteration is ONE map-side-combinable
    aggregation over the persisted featurized corpus; the driver holds
    only the 5-float model.  The oracle unrolls the exact weight
    trajectory as chained 1-row CTEs (same 9dp-rounded decimal gradient
    sums), so the learned weights AND training accuracy are hash-checked,
    not eyeballed."""
    from .classifier import (
        FEATURE_COLS, logreg_predict, logreg_train, quality_features)

    d = load_tables(spark, sf_dir)["documents"]
    base = quality_features(d.select("text", "n_chars")).withColumn(
        "y", (F.col("n_chars") >= 300).cast("double"))
    # return_features: the accuracy pass scores the persisted featurized
    # frame (same 6dp-rounded doubles the trainer saw) instead of
    # re-running the regexp featurization over the raw text.
    w, b, feats = logreg_train(base, FEATURE_COLS, "y", iterations=20,
                               lr=8.0, return_features=True)
    pred = logreg_predict(feats, w, b, FEATURE_COLS)
    return pred.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg((F.col("pred") == (F.col("_y") == 1.0))
                      .cast("double")), 6).alias("train_accuracy"),
    ).select(
        "n", F.lit(20).cast("long").alias("iterations"),
        *[F.round(F.lit(w[j]), 6).alias(f"w_{c}")
          for j, c in enumerate(FEATURE_COLS)],
        F.round(F.lit(b), 6).alias("bias"),
        "train_accuracy")


def _sql_logreg_quality() -> str:
    from .classifier import sql_logreg_train, sql_quality_features

    return sql_logreg_train("documents", sql_quality_features("text"),
                            "n_chars >= 300", iterations=20, lr=8.0)


def q_skew_diagnose(spark, sf_dir):
    """Shuffle-key skew report (operators/skew.py skew_diagnose) for the
    three fact-table keys a real deployment would shuffle on: per key,
    the count distribution, skew factor (hottest key vs mean), top-1 row
    share, and the recommended salt for salted_agg/salted_join.  Each
    diagnosis costs exactly one groupBy on the candidate key; the
    summaries are 1-row — the union is 3 rows, fully oracle-exact."""
    from ..operators.skew import skew_diagnose

    t = load_tables(spark, sf_dir)
    parts = [
        skew_diagnose(t["events"], ["user_id"], "events.user_id"),
        skew_diagnose(t["orders"], ["o_custkey"], "orders.o_custkey"),
        skew_diagnose(t["lineitem"], ["l_suppkey"], "lineitem.l_suppkey"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("key")


def _sql_skew_diagnose() -> str:
    from ..operators.skew import sql_skew_diagnose

    parts = [
        sql_skew_diagnose("events", ["user_id"], "events.user_id"),
        sql_skew_diagnose("orders", ["o_custkey"], "orders.o_custkey"),
        sql_skew_diagnose("lineitem", ["l_suppkey"],
                          "lineitem.l_suppkey"),
    ]
    return ("SELECT * FROM (" + " UNION ALL ".join(
        f"({p})" for p in parts) + ") u ORDER BY key")


def _sql_ann_recall() -> str:
    """Composes the committed brute-force and IVF mirrors (identical
    query set and k) into a per-query recall report."""
    return f"""
SELECT b.query_id, b.n_exact,
  coalesce(h.n_hit, 0)::BIGINT AS n_hit,
  round(coalesce(h.n_hit, 0)::DOUBLE / b.n_exact, 6) AS recall
FROM (SELECT query_id, COUNT(*)::BIGINT AS n_exact
      FROM ({_SQL_SIM_TOPK}) bf GROUP BY 1) b
LEFT JOIN (
  SELECT query_id, COUNT(*) AS n_hit
  FROM ({_SQL_SIM_IVF}) i
  JOIN (SELECT query_id AS bq, neighbor_id AS bn
        FROM ({_SQL_SIM_TOPK}) bf2) b2
    ON i.query_id = b2.bq AND i.neighbor_id = b2.bn
  GROUP BY 1) h USING (query_id)
ORDER BY query_id
"""


# one kmeans-trained index build per (app, sf_dir) — gate reps time the
# probe+recall, not the training (the amortized real-world shape)
def _ensure_ann_kmeans_index(spark, sf_dir):
    from .similarity import build_ann_index

    def build(scoped):
        e = load_tables(spark, sf_dir)["embeddings"]
        build_ann_index(e, scoped, nlist=10, train="kmeans",
                        train_iters=3)
    return build_once(spark, sf_dir, "gate_ann_kmx", build)


def q_ann_index_recall(spark, sf_dir):
    """Recall@10 of the KMEANS-TRAINED persisted index against exact
    brute force (VERDICT r11 item 8): ``build_ann_index(train="kmeans")``
    stores Lloyd-trained centroids + the bucketed cosine assignment, the
    query batch probes it via ``ivf_topk_index``, and the per-query
    hit-count against ``cosine_topk`` makes the TRAINED index's quality
    a driver-hashed number (the inline-quantizer ``ann_recall`` gate
    covers the subsample path; this one covers the stored, data-adapted
    quantizer a production deployment actually ships).  The oracle
    unrolls the same 3 Lloyd rounds (6dp-rounded means) and the same
    cosine assignment in SQL."""
    from .similarity import cosine_topk, ivf_topk_index

    scoped = _ensure_ann_kmeans_index(spark, sf_dir)
    e = load_tables(spark, sf_dir)["embeddings"]
    q = e.filter(F.col("vec_id") < 5)
    bf = cosine_topk(q, e, k=10).select("query_id", "neighbor_id")
    approx = ivf_topk_index(q, scoped, k=10, nprobe=2) \
        .select("query_id", "neighbor_id")
    n_exact = bf.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact"))
    n_hit = (approx.join(bf, ["query_id", "neighbor_id"])
             .groupBy("query_id")
             .agg(F.count(F.lit(1)).cast("long").alias("n_hit")))
    return (n_exact.join(n_hit, "query_id", "left")
            .select("query_id", "n_exact",
                    F.coalesce("n_hit", F.lit(0)).cast("long")
                    .alias("n_hit"))
            .withColumn("recall",
                        F.round(F.col("n_hit") / F.col("n_exact"), 6))
            .orderBy("query_id"))


def _sql_ann_index_recall() -> str:
    """Kmeans-trained IVF in SQL: the committed Lloyd unroll
    (``_sql_kmeans`` body, k=10, iters=3) plus a FINAL centroid update
    over the last assignment (build_ann_index stores the means of the
    final assignment — similarity.kmeans updates centroids after the
    last iteration too), then the same cosine argmax assignment, probe
    and recall report as ``_sql_ann_recall``."""
    dim = 64
    avg_list = "[" + ", ".join(
        f"round(avg(v[{i}]), 6)" for i in range(1, dim + 1)) + "]"
    body = _sql_kmeans(k=10, iters=3, body_only=True)
    trained = f"""WITH {body},
centf AS (SELECT cluster AS centroid_id, {avg_list} AS centv
          FROM a3 GROUP BY cluster),
assign AS (
  SELECT vid, v, centroid_id FROM (
    SELECT e.vid, e.v, c.centroid_id,
      row_number() OVER (PARTITION BY e.vid
        ORDER BY round({_COS.format(a='e.v', b='c.centv')}, 6) DESC,
                 c.centroid_id) AS r
    FROM vecs e, centf c) t WHERE r = 1),
qq AS (SELECT vid AS query_id, v AS qv FROM vecs WHERE vid < 5),
probes AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT q.query_id, q.qv, c.centroid_id,
      row_number() OVER (PARTITION BY q.query_id
        ORDER BY round({_COS.format(a='q.qv', b='c.centv')}, 6) DESC,
                 c.centroid_id) AS r
    FROM qq q, centf c) t WHERE r <= 2),
scored AS (
  SELECT p.query_id, a.vid AS neighbor_id,
         round({_COS.format(a='p.qv', b='a.v')}, 6) AS score
  FROM probes p JOIN assign a USING (centroid_id)
  WHERE p.query_id <> a.vid)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, neighbor_id) AS rank
  FROM scored) t WHERE rank <= 10"""
    return f"""
SELECT b.query_id, b.n_exact,
  coalesce(h.n_hit, 0)::BIGINT AS n_hit,
  round(coalesce(h.n_hit, 0)::DOUBLE / b.n_exact, 6) AS recall
FROM (SELECT query_id, COUNT(*)::BIGINT AS n_exact
      FROM ({_SQL_SIM_TOPK}) bf GROUP BY 1) b
LEFT JOIN (
  SELECT query_id, COUNT(*) AS n_hit
  FROM ({trained}) i
  JOIN (SELECT query_id AS bq, neighbor_id AS bn
        FROM ({_SQL_SIM_TOPK}) bf2) b2
    ON i.query_id = b2.bq AND i.neighbor_id = b2.bn
  GROUP BY 1) h USING (query_id)
ORDER BY query_id
"""


def q_gapfill_resample(spark, sf_dir):
    """Time-bucket gap filling (pipeline/rollup.py gapfill — the
    TimescaleDB time_bucket_gapfill shape): regularize each event type's
    series onto an hourly grid and fill the empty buckets, LOCF and
    linear interpolation unioned under a method label.  Per key the grid
    is bounded by time span, not row count (dense keys collapse into
    buckets first); the fill is two window passes over (key, bucket)."""
    from .rollup import gapfill

    ev = load_tables(spark, sf_dir)["events"]
    locf = gapfill(ev, method="locf").select(
        F.lit("locf").alias("method"), "*")
    lin = gapfill(ev, method="linear").select(
        F.lit("linear").alias("method"), "*")
    return locf.unionByName(lin).orderBy("method", "event_type",
                                         "bucket_ts")


def _sql_gapfill_resample() -> str:
    from .rollup import sql_gapfill

    locf = sql_gapfill(method="locf")
    lin = sql_gapfill(method="linear")
    return (f"SELECT * FROM (SELECT 'locf' AS method, * FROM ({locf}) a "
            f"UNION ALL SELECT 'linear' AS method, * FROM ({lin}) b) u "
            f"ORDER BY method, event_type, bucket_ts")


_EXPECT_RULES = [
    ("not_null", "l_orderkey"),
    ("not_null", "l_shipdate"),
    ("range", "l_discount", 0.0, 0.1),
    ("range", "l_quantity", 1.0, 50.0),
    ("in_set", "l_returnflag", ["A", "N", "R"]),
    ("matches", "l_linestatus", "^[FO]$"),
    ("unique", "l_orderkey_l_linenumber"),
]


def q_validate_expectations(spark, sf_dir):
    """Declarative data-quality gate (operators/expectations.py): the
    dbt-test / Great-Expectations shape over lineitem — null checks,
    value ranges, categorical membership, regex, composite-key
    uniqueness, and orderkey referential containment against orders.
    All row-level rules fold into ONE scan (a single aggregate of
    conditional counts); uniqueness costs one key-count aggregate; the
    FK check is one broadcast anti-probe against distinct orderkeys."""
    from ..operators.expectations import validate_expectations

    t = load_tables(spark, sf_dir)
    li = t["lineitem"].withColumn(
        "l_orderkey_l_linenumber",
        F.concat_ws("#", F.col("l_orderkey"), F.col("l_linenumber")))
    rules = list(_EXPECT_RULES) + [
        ("fk", "l_orderkey", t["orders"], "o_orderkey")]
    return validate_expectations(li, rules)


def _sql_validate_expectations() -> str:
    from ..operators.expectations import sql_validate_expectations

    rules = list(_EXPECT_RULES) + [
        ("fk", "l_orderkey", "orders", "o_orderkey")]
    return sql_validate_expectations(
        "(SELECT *, l_orderkey || '#' || l_linenumber AS "
        "l_orderkey_l_linenumber FROM lineitem)", rules)


def q_join_size_estimate(spark, sf_dir):
    """Exact join-cardinality pre-flight (operators/skew.py
    join_size_estimate): for two prospective equi-joins, the output row
    count, matched-key count, hottest key-pair output, and amplification
    factor — computed from per-key COUNT tables (|distinct keys| rows)
    instead of paying the join.  The companion to skew_diagnose: together
    they answer "how big is this shuffle's output and does one task own
    it" before the job runs."""
    from ..operators.skew import join_size_estimate

    t = load_tables(spark, sf_dir)
    a = join_size_estimate(t["orders"], "o_orderkey",
                           t["lineitem"], "l_orderkey",
                           "orders*lineitem")
    b = join_size_estimate(t["customer"], "c_custkey",
                           t["orders"], "o_custkey",
                           "customer*orders")
    return a.unionByName(b).orderBy("join_name")


def _sql_join_size_estimate() -> str:
    from ..operators.skew import sql_join_size_estimate

    a = sql_join_size_estimate("orders", "o_orderkey",
                               "lineitem", "l_orderkey",
                               "orders*lineitem")
    b = sql_join_size_estimate("customer", "c_custkey",
                               "orders", "o_custkey", "customer*orders")
    return (f"SELECT * FROM (({a}) UNION ALL ({b})) u ORDER BY join_name")


_ZORDER_PREDS = [
    ("mid_box", {"user_id": (0.4, 0.6), "value": (0.4, 0.6)}),
    ("user_slice", {"user_id": (0.45, 0.55)}),
    ("value_slice", {"value": (0.45, 0.55)}),
]


def q_zorder_skipping(spark, sf_dir):
    """Z-order layout pruning report (sources/layout.py): bucket events on
    (user_id, value), Morton-interleave, and for three rectangle
    predicates count the cells a min/max-pruning scan must touch under
    the Z-order layout vs each single-column sort — the analytic,
    oracle-exact form of the file-skipping decision that dominates scan
    cost at 100 TB.  One 1-row min/max broadcast + one bounded-domain
    cell aggregation per (predicate, layout)."""
    from ..sources.layout import zorder_skipping_stats

    ev = load_tables(spark, sf_dir)["events"]
    return zorder_skipping_stats(ev, ["user_id", "value"], _ZORDER_PREDS)


def _sql_zorder_skipping() -> str:
    from ..sources.layout import sql_zorder_skipping_stats

    return sql_zorder_skipping_stats("events", ["user_id", "value"],
                                     _ZORDER_PREDS)


def q_schema_evolution(spark, sf_dir):
    """Schema-evolution read (mergeSchema): two parquet generations land
    in one table directory — v1 rows lack the o_orderpriority column that
    v2 adds — and a mergeSchema read unions them by NAME, nulling the
    missing column (the lakehouse schema-drift contract; bare
    positional/strict readers would refuse or misalign).  The gate
    aggregates over the merged frame with the null group made explicit;
    the oracle recomputes the expected merge closed-form from the source
    table, so a wrong union (dropped column, misaligned rows, non-null
    backfill) hash-mismatches.  Scale note: mergeSchema's cost is footer
    reads at PLANNING time — schema merge never touches row data."""
    import shutil

    from ..queries import scratch_dir
    base = scratch_dir(spark, sf_dir, "schema_evo")
    key = (spark.sparkContext.applicationId, _os.path.abspath(sf_dir),
           "schema_evo")
    if key not in _STREAM_SRC_BUILT or not _os.path.exists(base):
        shutil.rmtree(base, ignore_errors=True)
        o = load_tables(spark, sf_dir)["orders"]
        v1 = (o.filter(F.col("o_orderkey") % 2 == 0)
              .select("o_orderkey", "o_totalprice"))
        v2 = (o.filter(F.col("o_orderkey") % 2 == 1)
              .select("o_orderkey", "o_totalprice", "o_orderpriority"))
        v1.write.mode("append").parquet(base)
        v2.write.mode("append").parquet(base)
        _STREAM_SRC_BUILT.add(key)
    merged = spark.read.option("mergeSchema", "true").parquet(base)
    return (merged
            .groupBy(F.coalesce("o_orderpriority", F.lit("MISSING"))
                     .alias("pri"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum(F.round(F.col("o_totalprice"), 9)
                       .cast("decimal(20,9)")).cast("double")
                 .alias("total"))
            .orderBy("pri"))


_SQL_SCHEMA_EVOLUTION = """
SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
            ELSE 'MISSING' END AS pri,
  COUNT(*)::BIGINT AS n,
  SUM(round(o_totalprice, 9)::DECIMAL(20,9))::DOUBLE AS total
FROM orders GROUP BY 1 ORDER BY pri
"""


def q_csv_dirty_read(spark, sf_dir):
    """Dirty-CSV ingestion (sources/readers.py read_csv_permissive): a
    deterministic CSV derived from documents (every 7th row's int column
    is the unparseable token 'oops') reads back in PERMISSIVE mode —
    malformed rows null out and land in the quarantine column instead of
    failing the load.  The gate rolls up good vs corrupt; the oracle
    recomputes the expected split closed-form, so a reader that drops,
    misparses, or mis-quarantines rows hash-mismatches."""
    import shutil

    from ..queries import scratch_dir
    base = scratch_dir(spark, sf_dir, "dirty_csv")
    key = (spark.sparkContext.applicationId, _os.path.abspath(sf_dir),
           "dirty_csv")
    if key not in _STREAM_SRC_BUILT or not _os.path.exists(base):
        shutil.rmtree(base, ignore_errors=True)
        d = load_tables(spark, sf_dir)["documents"] \
            .filter(F.col("doc_id") < 100)
        lines = d.select(F.concat(
            F.col("doc_id").cast("string"), F.lit(","),
            F.when(F.col("doc_id") % 7 == 0, F.lit("oops"))
            .otherwise((F.col("doc_id") * 3).cast("string"))
        ).alias("value"))
        lines.coalesce(2).write.mode("overwrite").text(base)
        _STREAM_SRC_BUILT.add(key)
    from ..sources.readers import read_csv_permissive

    df = read_csv_permissive(spark, base, "id int, val int")
    return (df.groupBy(F.col("_corrupt_record").isNotNull()
                       .alias("is_corrupt"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum("val").cast("long").alias("sum_val"),
                 F.sum("id").cast("long").alias("sum_id"))
            .orderBy("is_corrupt"))


_SQL_CSV_DIRTY = """
SELECT (doc_id % 7 = 0) AS is_corrupt, COUNT(*)::BIGINT AS n,
  CASE WHEN doc_id % 7 = 0 THEN NULL
       ELSE SUM(doc_id * 3) END::BIGINT AS sum_val,
  SUM(doc_id)::BIGINT AS sum_id
FROM documents WHERE doc_id < 100
GROUP BY doc_id % 7 = 0 ORDER BY is_corrupt
"""


def q_debounce_events(spark, sf_dir):
    """Burst-collapse debounce (pipeline/rollup.py debounce_events): per
    (user_id, event_type), events closer than 5 minutes collapse to their
    first occurrence (+ burst_size audit column).  One key exchange, two
    window passes over a total (ts, event_id) order — hash-exact against
    the identical DuckDB window chain."""
    from .rollup import debounce_events

    ev = load_tables(spark, sf_dir)["events"]
    out = debounce_events(ev, ["user_id", "event_type"], gap="5 minutes")
    return out.select("event_id", "user_id", "event_type", "burst_size")


def _sql_debounce_events() -> str:
    from .rollup import sql_debounce_events

    return sql_debounce_events(
        "events", ["user_id", "event_type"], gap="5 minutes",
        select_cols="event_id, user_id, event_type")


def q_compaction_plan(spark, sf_dir):
    """Small-file compaction planning (sources/layout.py plan_compaction —
    the OPTIMIZE bin-packing half): a deterministic file listing derived
    from lineitem (one 'file' per (l_returnflag, l_suppkey mod 211)
    group, size = exact quantity cents) plans into ~1 MB rewrite bins per
    returnflag partition; files >= the 250 kB floor are kept untouched.
    Largest-first + path tie-break is a total order, so the whole plan —
    keep/compact action AND bin assignment — is integer-exact against the
    DuckDB window mirror.  The operator itself is one window over
    |files| metadata rows; it never touches data files."""
    from ..sources.layout import plan_compaction

    li = load_tables(spark, sf_dir)["lineitem"]
    files = (li.groupBy("l_returnflag",
                        (F.col("l_suppkey") % 211).alias("g"))
             .agg(F.sum((F.col("l_quantity") * 100).cast("long"))
                  .alias("size_bytes"))
             .select(F.col("l_returnflag").alias("part"),
                     F.concat(F.lit("f"), F.col("g").cast("string"),
                              F.lit("_"), F.col("l_returnflag"))
                     .alias("path"),
                     "size_bytes"))
    return plan_compaction(files, target_bytes=1_000_000,
                           min_file_bytes=250_000, partition_col="part")


def _sql_compaction_plan() -> str:
    from ..sources.layout import sql_plan_compaction

    body = sql_plan_compaction("cp_files", target_bytes=1_000_000,
                               min_file_bytes=250_000,
                               partition_col="part")
    return f"""
WITH cp_files AS (
  SELECT l_returnflag AS part,
    'f' || (l_suppkey % 211)::VARCHAR || '_' || l_returnflag AS path,
    SUM((l_quantity * 100)::BIGINT)::BIGINT AS size_bytes
  FROM lineitem GROUP BY l_returnflag, l_suppkey % 211
){body}
"""


def q_robust_stats(spark, sf_dir):
    """Exact per-group robust statistics (pipeline/robust.py
    grouped_median_mad): median / MAD / p10 / p90 of event values per
    event_type, computed in a GROUPED-MAP pandas worker (applyInPandas) —
    the Python boundary Spark reserves for semantics JVM aggregates can't
    express (exact order statistics).  One shuffle on the group key; the
    oracle recomputes with DuckDB's median/quantile_cont, which match
    numpy's interpolating definitions bit-for-bit on doubles."""
    from .robust import grouped_median_mad

    ev = load_tables(spark, sf_dir)["events"]
    return grouped_median_mad(ev, ["event_type"], "value")


def _sql_robust_stats() -> str:
    from .robust import sql_grouped_median_mad

    return sql_grouped_median_mad("events", ["event_type"], "value")


def _append_watermark_sentinels(spark, src, max_ts) -> None:
    """Append TWO sentinel parquet files (one view + one purchase row
    each, user_id = -1) timestamped 10 h and 12 h past the last real
    event.  With ``maxFilesPerTrigger=1`` the first sentinel batch
    advances the watermark beyond every real row's join horizon and the
    second's batch evicts-and-emits the unmatched state — the finite-drive
    recipe that makes outer stream-stream joins flush.

    FileStreamSource orders files by MODIFICATION TIME, so the sentinels
    must sort after every real data file; on a coarse-mtime filesystem a
    same-second write could sort first (watermark races ahead, real joins
    drop).  Explicit strictly-increasing mtimes on each sentinel's part
    files remove that race."""
    from datetime import timedelta

    def _parts(d):
        return {_os.path.join(d, f) for f in _os.listdir(d)
                if f.startswith("part-")}

    seen = _parts(src)
    base_mtime = max(_os.path.getmtime(p) for p in seen)
    for i, hours in enumerate((10, 12)):
        sent = spark.createDataFrame(
            [(-1 - i, max_ts + timedelta(hours=hours), -1, t, 0.0)
             for t in ("view", "purchase")],
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double")
        sent.coalesce(1).write.mode("append").parquet(src)
        cur = _parts(src)
        t_sent = base_mtime + 10.0 * (i + 1)
        for p in cur - seen:
            _os.utime(p, (t_sent, t_sent))
        seen = cur


def q_streaming_join_outer(spark, sf_dir):
    """Stream↔stream LEFT OUTER interval join (streaming/operators.py
    stream_stream_join(how='left_outer')): view→purchase attribution
    where unconverted views ALSO emit (null purchase) — the semantics the
    inner-join gate can't cover, and the one that needs real watermark
    machinery: Spark finalizes a non-match only once the watermark passes
    the row's join horizon.  The finite drive therefore appends TWO
    sentinel files past the last real event and triggers per-file — the
    first advances the watermark beyond every real horizon, the second's
    batch evicts-and-emits the unmatched state (sentinels filter out of
    the result).  Oracle: the equivalent batch left range-join; matching
    hashes prove every unmatched view flushed exactly once."""
    import shutil
    import uuid
    from datetime import timedelta

    from ..streaming.operators import (
        read_stream_parquet, run_stream_to_parquet, stream_state_partitions, stream_stream_join,
    )

    from ..queries import scratch_dir
    base = scratch_dir(spark, sf_dir, "stream_outer_gate")
    src = _os.path.join(base, "src")
    key = (spark.sparkContext.applicationId, _os.path.abspath(sf_dir),
           "outer")
    if key not in _STREAM_SRC_BUILT or not _os.path.exists(src):
        shutil.rmtree(base, ignore_errors=True)
        ev = (load_tables(spark, sf_dir)["events"]
              .filter(F.col("event_type").isin("view", "purchase"))
              .filter(F.col("user_id") % 5 == 0)
              .select("event_id", "ts", "user_id", "event_type", "value"))
        ev.coalesce(3).write.mode("overwrite").parquet(src)
        max_ts = ev.agg(F.max("ts")).first()[0]
        _append_watermark_sentinels(spark, src, max_ts)
        _STREAM_SRC_BUILT.add(key)
    run_id = uuid.uuid4().hex[:8]
    out = _os.path.join(base, f"oout-{run_id}")
    ckpt = _os.path.join(base, f"ockpt-{run_id}")
    batch = spark.read.parquet(src)
    stream = (spark.readStream.schema(batch.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    views = stream.filter(F.col("event_type") == "view") \
        .select("user_id", "ts", "event_id")
    buys = stream.filter(F.col("event_type") == "purchase") \
        .select("user_id", "ts", "event_id", "value")
    joined = stream_stream_join(views, buys, key_col="user_id",
                                ts_col="ts", within="30 minutes",
                                how="left_outer")
    got = run_stream_to_parquet(
        joined, out, ckpt,
        state_partitions=stream_state_partitions(spark, src))
    return (got.filter(F.col("user_id") >= 0)
            .select("user_id",
                    F.col("event_id").alias("view_id"),
                    F.col("r_event_id").alias("purchase_id"),
                    F.col("r_event_id").isNotNull().alias("converted")))


_SQL_STREAMING_JOIN_OUTER = """
WITH src AS (
  SELECT * FROM events
  WHERE event_type IN ('view', 'purchase') AND user_id % 5 = 0),
v AS (SELECT user_id, ts, event_id FROM src WHERE event_type = 'view'),
b AS (SELECT user_id, ts, event_id FROM src WHERE event_type = 'purchase')
SELECT v.user_id, v.event_id AS view_id, b.event_id AS purchase_id,
  b.event_id IS NOT NULL AS converted
FROM v LEFT JOIN b
  ON v.user_id = b.user_id
 AND b.ts >= v.ts AND b.ts <= v.ts + INTERVAL 30 MINUTE
"""


def q_streaming_ingest(spark, sf_dir):
    """Stream → lakehouse table (streaming/operators.py
    streaming_append_table): the events stream appends into a
    manifest-committed table, one version per micro-batch (batch rows +
    hardlinks to the previous version's files, batch_id in the commit
    meta for replay-skip exactly-once).  The oracle aggregates the
    source directly, so the hash proves NO batch was lost, duplicated,
    or torn on its way through the commit log — the ingest guarantee a
    lakehouse sink owes."""
    import shutil
    import uuid

    from ..streaming.operators import streaming_append_table

    from ..queries import scratch_dir
    base = scratch_dir(spark, sf_dir, "stream_ingest_gate")
    src = _os.path.join(base, "src")
    key = (spark.sparkContext.applicationId, _os.path.abspath(sf_dir),
           "ingest")
    if key not in _STREAM_SRC_BUILT or not _os.path.exists(src):
        shutil.rmtree(base, ignore_errors=True)
        (load_tables(spark, sf_dir)["events"]
         .select("event_id", "user_id", "event_type", "value")
         .coalesce(6).write.mode("overwrite").parquet(src))
        _STREAM_SRC_BUILT.add(key)
    run_id = uuid.uuid4().hex[:8]
    batch = spark.read.parquet(src)
    table = streaming_append_table(
        spark, src, batch.schema,
        _os.path.join(base, f"tbl-{run_id}"),
        _os.path.join(base, f"ickpt-{run_id}"),
        max_files_per_trigger=2)
    return table.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round(F.col("value"), 9).cast("decimal(20,9)"))
        .cast("double").alias("total"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"))


_SQL_STREAMING_INGEST = """
SELECT event_type, COUNT(*)::BIGINT AS n,
  SUM(round(value, 9)::DECIMAL(20,9))::DOUBLE AS total,
  MIN(event_id) AS min_id, MAX(event_id) AS max_id
FROM events GROUP BY event_type
"""


def q_compact_roundtrip(spark, sf_dir):
    """Small-file compaction EXECUTED, not just planned
    (sources/manifest.py compact_table — the OPTIMIZE verb the
    compaction_plan gate only plans): a deliberately fragmented
    manifest table (orders slice repartitioned into 24 shards) compacts
    into ~target-size files as one committed version, and the gate
    aggregates the COMPACTED table — the hash proves the rewrite
    preserved every row and value while the file count collapsed
    (asserted in tests/test_manifest.py; here the data identity is the
    oracle's job)."""
    import uuid

    from ..sources.manifest import compact_table, manifest_upsert, read_table

    from ..queries import scratch_dir
    base = scratch_dir(spark, sf_dir, "compact_gate")
    run_id = uuid.uuid4().hex[:8]
    root = _os.path.join(base, f"tbl-{run_id}")
    o = (load_tables(spark, sf_dir)["orders"]
         .filter(F.col("o_orderkey") % 3 == 0)
         .select("o_orderkey", "o_custkey", "o_totalprice",
                 "o_orderpriority"))
    manifest_upsert(spark, root, o.repartition(24), ["o_orderkey"])
    compact_table(spark, root, target_bytes=256 * 1024 * 1024)
    t = read_table(spark, root)
    return t.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round(F.col("o_totalprice"), 9).cast("decimal(20,9)"))
        .cast("double").alias("total"),
        F.max("o_orderkey").alias("max_key"))


_SQL_COMPACT_ROUNDTRIP = """
SELECT o_orderpriority, COUNT(*)::BIGINT AS n,
  SUM(round(o_totalprice, 9)::DECIMAL(20,9))::DOUBLE AS total,
  MAX(o_orderkey) AS max_key
FROM orders WHERE o_orderkey % 3 = 0
GROUP BY o_orderpriority
"""


def q_manifest_merge_apply(spark, sf_dir):
    """Conditional MERGE applying a CDC changelog end-to-end
    (sources/manifest.py manifest_merge — WHEN MATCHED [AND cond] THEN
    UPDATE/DELETE, WHEN NOT MATCHED THEN INSERT — fed by pipeline/cdc.py
    snapshot_diff, the exact consumer shape the replace-by-key upsert and
    delete-by-key verbs can't express): the customer slice <=800 is
    committed as a manifest table, a new snapshot (keys <=1000, every 7th
    dropped, every 3rd rebalanced +100) is diffed against it, and the
    changelog routes through the merge's three conditional clauses.  The
    oracle recomputes the NEW snapshot closed-form, so the hash proves
    delete/update/insert each landed exactly — and the merge is
    idempotent (re-applying the same changelog is a no-op, asserted in
    tests/test_manifest.py).

    Plan: ONE full-outer equi-join on the key per merge (each side
    shuffles once), map-only clause CASE, atomic O_EXCL commit."""
    import uuid

    from ..sources.manifest import (
        manifest_merge, manifest_upsert, read_table,
    )

    from ..queries import scratch_dir
    from .cdc import snapshot_diff

    c = load_tables(spark, sf_dir)["customer"] \
        .select("c_custkey", "c_name", "c_acctbal")
    old = c.filter(F.col("c_custkey") <= 800)
    new = (c.filter((F.col("c_custkey") <= 1000)
                    & (F.col("c_custkey") % 7 != 0))
           .withColumn("c_acctbal",
                       F.when(F.col("c_custkey") % 3 == 0,
                              F.col("c_acctbal") + 100)
                       .otherwise(F.col("c_acctbal"))))
    changes = snapshot_diff(old, new, ["c_custkey"]) \
        .filter(F.col("change_type") != "unchanged")
    source = (changes.select("c_custkey", "change_type")
              .join(new, "c_custkey", "left")
              .select("c_custkey", "c_name", "c_acctbal", "change_type"))
    base = scratch_dir(spark, sf_dir, "merge_gate")
    root = _os.path.join(base, f"tbl-{uuid.uuid4().hex[:8]}")
    manifest_upsert(spark, root, old, ["c_custkey"])
    manifest_merge(spark, root, source, ["c_custkey"],
                   when_matched_update="src.change_type = 'update'",
                   when_matched_delete="src.change_type = 'delete'",
                   when_not_matched_insert="src.change_type = 'insert'")
    return read_table(spark, root).select(
        "c_custkey", "c_name",
        F.round(F.col("c_acctbal"), 2).alias("c_acctbal"))


_SQL_MANIFEST_MERGE_APPLY = """
SELECT c_custkey, c_name,
  round(CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 100
        ELSE c_acctbal END, 2) AS c_acctbal
FROM customer WHERE c_custkey <= 1000 AND c_custkey % 7 <> 0
"""


def q_streaming_join_full_outer(spark, sf_dir):
    """Stream↔stream FULL OUTER interval join (streaming/operators.py
    stream_stream_join(how='full_outer')): the last cell of the outer
    matrix — unconverted views AND orphan purchases (no view in the
    preceding 30 minutes) both emit with nulls on the other side.  Both
    sides' unmatched state needs watermark-driven finalization, so the
    same two-sentinel recipe as the left-outer gate drives BOTH flushes
    (the sentinel files carry a view and a purchase row each).  Oracle:
    the equivalent batch FULL range-join; matching hashes prove every
    unmatched row on either side flushed exactly once."""
    import shutil
    import uuid

    from ..streaming.operators import (
        run_stream_to_parquet, stream_state_partitions, stream_stream_join,
    )

    from ..queries import scratch_dir
    base = scratch_dir(spark, sf_dir, "stream_fullouter_gate")
    src = _os.path.join(base, "src")
    key = (spark.sparkContext.applicationId, _os.path.abspath(sf_dir),
           "fullouter")
    if key not in _STREAM_SRC_BUILT or not _os.path.exists(src):
        shutil.rmtree(base, ignore_errors=True)
        ev = (load_tables(spark, sf_dir)["events"]
              .filter(F.col("event_type").isin("view", "purchase"))
              .filter(F.col("user_id") % 7 == 0)
              .select("event_id", "ts", "user_id", "event_type", "value"))
        ev.coalesce(3).write.mode("overwrite").parquet(src)
        max_ts = ev.agg(F.max("ts")).first()[0]
        _append_watermark_sentinels(spark, src, max_ts)
        _STREAM_SRC_BUILT.add(key)
    run_id = uuid.uuid4().hex[:8]
    out = _os.path.join(base, f"foout-{run_id}")
    ckpt = _os.path.join(base, f"fockpt-{run_id}")
    batch = spark.read.parquet(src)
    stream = (spark.readStream.schema(batch.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    views = stream.filter(F.col("event_type") == "view") \
        .select("user_id", "ts", "event_id")
    buys = stream.filter(F.col("event_type") == "purchase") \
        .select("user_id", "ts", "event_id", "value")
    joined = stream_stream_join(views, buys, key_col="user_id",
                                ts_col="ts", within="30 minutes",
                                how="full_outer")
    got = run_stream_to_parquet(
        joined, out, ckpt,
        state_partitions=stream_state_partitions(spark, src))
    uid = F.coalesce(F.col("user_id"), F.col("r_user_id"))
    return (got.filter(uid >= 0)
            .select(uid.alias("user_id"),
                    F.col("event_id").alias("view_id"),
                    F.col("r_event_id").alias("purchase_id"),
                    F.when(F.col("event_id").isNull(),
                           F.lit("purchase_only"))
                    .when(F.col("r_event_id").isNull(),
                          F.lit("view_only"))
                    .otherwise(F.lit("matched")).alias("side")))


_SQL_STREAMING_JOIN_FULL_OUTER = """
WITH src AS (
  SELECT * FROM events
  WHERE event_type IN ('view', 'purchase') AND user_id % 7 = 0),
v AS (SELECT user_id, ts, event_id FROM src WHERE event_type = 'view'),
b AS (SELECT user_id, ts, event_id FROM src WHERE event_type = 'purchase')
SELECT COALESCE(v.user_id, b.user_id) AS user_id,
  v.event_id AS view_id, b.event_id AS purchase_id,
  CASE WHEN v.event_id IS NULL THEN 'purchase_only'
       WHEN b.event_id IS NULL THEN 'view_only'
       ELSE 'matched' END AS side
FROM v FULL JOIN b
  ON v.user_id = b.user_id
 AND b.ts >= v.ts AND b.ts <= v.ts + INTERVAL 30 MINUTE
"""


def q_streaming_view_maintenance(spark, sf_dir):
    """Streaming incremental view maintenance (streaming/operators.py
    streaming_view_maintenance): the events stream drives, 8 files per
    trigger, a per-event-type count/sum/min/max state table through
    cdc.agg_state + merge_agg_state — one versioned parquet state per
    micro-batch, history never rescanned.  The oracle recomputes the
    aggregate FROM SCRATCH over all events, so the hash proves the
    batch-chopped merge chain is bit-identical to a full rescan
    (mergeable state + exact decimal sums = trigger-count-invariant)."""
    import uuid

    from ..streaming.operators import streaming_view_maintenance

    base, src = _events_stream_src(spark, sf_dir)
    run_id = uuid.uuid4().hex[:8]
    work = _os.path.join(base, f"ivm-{run_id}")
    batch = spark.read.parquet(src)
    state = streaming_view_maintenance(
        spark, src, batch.schema, ["event_type"], "value", work,
        max_files_per_trigger=8)
    return state.select(
        "event_type", "n", F.col("s").cast("double").alias("total"),
        F.round("mn", 6).alias("mn"), F.round("mx", 6).alias("mx"))


_SQL_STREAMING_IVM = """
SELECT event_type, COUNT(*)::BIGINT AS n,
  SUM(round(value, 9)::DECIMAL(20,9))::DOUBLE AS total,
  round(MIN(value), 6) AS mn, round(MAX(value), 6) AS mx
FROM events GROUP BY event_type
"""


def q_streaming_stateful_stats(spark, sf_dir):
    """CUSTOM stateful streaming operator as a HASH gate
    (streaming/stateful.py running_user_stats — applyInPandasWithState,
    the arbitrary-Python-state path the built-in streaming aggregates
    can't express): the events stream drives per-user (count, sum,
    last-seen) state; update-mode emissions land in parquet per trigger,
    and the FINAL state per user (the max-n_events row — the running
    count strictly increases) must equal the batch aggregate exactly.

    Exactness across trigger chopping: value is pre-quantized JVM-side to
    integer nanos (round(value,9) through decimal — the engine-agreed
    9dp convention), so the Python state's float accumulation is
    exact-integer arithmetic (sums stay far under 2^53 at these SFs) and
    the hash is trigger- and partition-order independent; last_ts is a
    running max carried in state, immune to out-of-time-order files.

    Scale: state is hash-partitioned by user across executors
    (RocksDB-backed on a real cluster); each trigger touches only the
    keys present in that batch, and timeouts would GC idle keys."""
    import uuid

    from pyspark.sql.window import Window as _W

    from ..streaming.operators import (
        read_stream_parquet, run_stream_to_parquet, stream_state_partitions,
    )
    from ..streaming.stateful import running_user_stats

    base, src = _events_stream_src(spark, sf_dir)
    run_id = uuid.uuid4().hex[:8]
    out = _os.path.join(base, f"state-{run_id}")
    ckpt = _os.path.join(base, f"stateck-{run_id}")
    batch = spark.read.parquet(src)
    stream = read_stream_parquet(spark, src, batch.schema)
    nanos = (F.round("value", 9).cast("decimal(20,9)")
             * F.lit(1000000000).cast("decimal(10,0)")).cast("long")
    st = stream.select("user_id", "ts",
                       nanos.cast("double").alias("value"))
    # state_partitions deliberately NOT pinned: applyInPandasWithState is
    # Python-CPU-bound per partition, so fewer state partitions serialize
    # the compute (measured 5.5 s at 1 vs 3.0 s at the session default;
    # 16 measured 2.1 s — a compute-vs-commit tradeoff left for later).
    emitted = run_stream_to_parquet(
        running_user_stats(st), out, ckpt, output_mode="update")
    w = _W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (emitted.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") == 1)
            .select("user_id", "n_events",
                    F.round(F.col("sum_value") / 1e9, 9).alias("sum_value"),
                    "last_ts"))


_SQL_STREAMING_STATEFUL = """
SELECT user_id, COUNT(*)::BIGINT AS n_events,
  round(SUM(round(value, 9)::DECIMAL(20,9))::DOUBLE, 9) AS sum_value,
  MAX(ts) AS last_ts
FROM events GROUP BY user_id
"""


def q_streaming_windowed(spark, sf_dir):
    """Tumbling-window streaming rollup as a HASH gate (companion to
    streaming_sessions — covers the windowed-aggregate operator): 1-hour
    event-time windows with a 2 h watermark run availableNow through
    foreachBatch into parquet; append mode emits exactly the windows whose
    end the final watermark passed.  The oracle is a DuckDB date_trunc
    rollup with the same cutoff; sum_value routes through exact decimals
    so the hash is trigger-order-independent."""
    import tempfile
    import uuid

    from ..streaming.operators import (
        read_stream_parquet, run_stream_to_parquet, stream_state_partitions, windowed_rollup,
    )

    base, src = _events_stream_src(spark, sf_dir)
    run_id = uuid.uuid4().hex[:8]
    out = _os.path.join(base, f"wout-{run_id}")
    ckpt = _os.path.join(base, f"wckpt-{run_id}")
    batch = spark.read.parquet(src)
    stream = read_stream_parquet(spark, src, batch.schema)
    got = run_stream_to_parquet(
        windowed_rollup(stream, window="1 hour"), out, ckpt,
        state_partitions=stream_state_partitions(spark, src))
    return got.select(
        "window_start", "event_type", "n",
        F.round("sum_value", 6).alias("sum_value"),
        F.round("min_value", 6).alias("min_value"),
        F.round("max_value", 6).alias("max_value"))


_SQL_STREAMING_WINDOWED = """
WITH w AS (
  SELECT date_trunc('hour', ts) AS window_start, event_type,
         COUNT(*) AS n,
         round(CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE), 6)
           AS sum_value,
         round(MIN(value), 6) AS min_value,
         round(MAX(value), 6) AS max_value
  FROM events GROUP BY 1, 2)
SELECT window_start, event_type, n, sum_value, min_value, max_value
FROM w
WHERE window_start + INTERVAL 1 HOUR
      <= (SELECT MAX(ts) - INTERVAL 2 HOUR FROM events)
"""


def q_streaming_dedup(spark, sf_dir):
    """Streaming dedup as a HASH gate (streaming/operators.py
    streaming_dedup — previously batch-parity-tested only): the source
    re-lands events WITH planted full-row duplicates (every third
    event_id, appended as exact copies), then a real two-stateful-operator
    streaming query — dropDuplicatesWithinWatermark(event_id) feeding a
    1 h tumbling watermarked rollup — runs availableNow through
    foreachBatch into parquet.  Because the planted copies are
    bit-identical rows, the post-dedup stream is deterministic whichever
    copy survives, and the oracle is the DISTINCT-collapsed rollup with
    the same final-watermark cutoff — an undeduplicated run inflates n/
    sum and hash-fails, so the gate passing PROVES the dedup operator
    fired.  State is bounded by the watermark horizon on both operators."""
    import shutil
    import uuid

    from ..streaming.operators import (
        read_stream_parquet, run_stream_to_parquet, stream_state_partitions, streaming_dedup,
        windowed_rollup,
    )

    from ..queries import scratch_dir
    base = scratch_dir(spark, sf_dir, "stream_dup_gate")
    src = _os.path.join(base, "src")
    key = (spark.sparkContext.applicationId, _os.path.abspath(sf_dir),
           "dup")
    if key not in _STREAM_SRC_BUILT or not _os.path.exists(src):
        shutil.rmtree(base, ignore_errors=True)
        ev = load_tables(spark, sf_dir)["events"]
        dups = ev.filter(F.col("event_id") % 3 == 0)
        ev.unionByName(dups).write.mode("overwrite").parquet(src)
        _STREAM_SRC_BUILT.add(key)
    run_id = uuid.uuid4().hex[:8]
    out = _os.path.join(base, f"dout-{run_id}")
    ckpt = _os.path.join(base, f"dckpt-{run_id}")
    batch = spark.read.parquet(src)
    stream = read_stream_parquet(spark, src, batch.schema)
    deduped = streaming_dedup(stream, ["event_id"])
    got = run_stream_to_parquet(
        windowed_rollup(deduped, window="1 hour", watermark=None), out,
        ckpt, state_partitions=stream_state_partitions(spark, src))
    return got.select(
        "window_start", "event_type", "n",
        F.round("sum_value", 6).alias("sum_value"),
        F.round("min_value", 6).alias("min_value"),
        F.round("max_value", 6).alias("max_value"))


_SQL_STREAMING_DEDUP = """
WITH w AS (
  SELECT date_trunc('hour', ts) AS window_start, event_type,
         COUNT(*) AS n,
         round(CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE), 6)
           AS sum_value,
         round(MIN(value), 6) AS min_value,
         round(MAX(value), 6) AS max_value
  FROM events GROUP BY 1, 2)
SELECT window_start, event_type, n, sum_value, min_value, max_value
FROM w
WHERE window_start + INTERVAL 1 HOUR
      <= (SELECT MAX(ts) - INTERVAL 2 HOUR FROM events)
"""


def q_streaming_hopping(spark, sf_dir):
    """HOPPING-window streaming rollup (windowed_rollup with slide <
    window): 1-hour windows every 30 min, 2 h watermark, availableNow
    through foreachBatch — each event contributes to exactly 2 overlapping
    windows, so state and output carry the documented 2× overlap factor.
    The oracle expands each event to its two slide-grid windows and
    applies the same final-watermark cutoff as the tumbling gate."""
    import uuid

    from ..streaming.operators import (
        read_stream_parquet, run_stream_to_parquet, stream_state_partitions, windowed_rollup,
    )

    base, src = _events_stream_src(spark, sf_dir)
    run_id = uuid.uuid4().hex[:8]
    out = _os.path.join(base, f"hout-{run_id}")
    ckpt = _os.path.join(base, f"hckpt-{run_id}")
    batch = spark.read.parquet(src)
    stream = read_stream_parquet(spark, src, batch.schema)
    got = run_stream_to_parquet(
        windowed_rollup(stream, window="1 hour", slide="30 minutes"),
        out, ckpt,
        state_partitions=stream_state_partitions(spark, src))
    return got.select(
        "window_start", "event_type", "n",
        F.round("sum_value", 6).alias("sum_value"),
        F.round("min_value", 6).alias("min_value"),
        F.round("max_value", 6).alias("max_value"))


_SQL_STREAMING_HOPPING = """
WITH expanded AS (
  SELECT date_trunc('hour', ts)
           + CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE
                  ELSE INTERVAL 0 MINUTE END
           - i.o * INTERVAL 30 MINUTE AS window_start,
         event_type, value, ts
  FROM events, (SELECT unnest([0, 1]) AS o) i),
w AS (
  SELECT window_start, event_type,
         COUNT(*) AS n,
         round(CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE), 6)
           AS sum_value,
         round(MIN(value), 6) AS min_value,
         round(MAX(value), 6) AS max_value
  FROM expanded GROUP BY 1, 2)
SELECT window_start, event_type, n, sum_value, min_value, max_value
FROM w
WHERE window_start + INTERVAL 1 HOUR
      <= (SELECT MAX(ts) - INTERVAL 2 HOUR FROM events)
"""


# --- recall under quantizer drift (VERDICT r12 item 5; relative
# policy VERDICT r13 item 2) ---------------------------------------------

_DRIFT_DIM = 64


def _drift_direction(dim: int = _DRIFT_DIM) -> list[float]:
    """Deterministic drift direction d[j] = ((j*37) % 13 - 6) / 6
    (1-indexed), chosen to be reproducible BIT-FOR-BIT in DuckDB
    (integer ops then one double division) — no RNG to synchronize."""
    return [((j * 37) % 13 - 6) / 6.0 for j in range(1, dim + 1)]


def _drifted_tail(e, cut: int):
    """The held-out tail (vec_id >= cut) shifted by the fixed drift
    direction: v' = float32(double(v) + d) — a whole appended batch
    drawn from a distribution the frozen quantizer never saw."""
    d_col = F.array(*[F.lit(x) for x in _drift_direction()])
    return e.filter(F.col("vec_id") >= cut).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.zip_with("embedding", d_col,
                   lambda a, b: (a.cast("double") + b).cast("float"))
        .alias("embedding"),
        F.col("label"))


def _ensure_ann_drift_index(spark, sf_dir):
    """Build-once per (app, sf_dir): subsample-trained index over the
    base 60%, then ann_index_append the DRIFTED tail — reps time the
    probe + recall, not the build (the amortized real-world shape)."""
    from .similarity import ann_index_append, build_ann_index

    def build(scoped):
        e = load_tables(spark, sf_dir)["embeddings"]
        cut = 3 * e.count() // 5
        build_ann_index(e.filter(F.col("vec_id") < cut), scoped,
                        nlist=10, n_buckets=4)
        ann_index_append(_drifted_tail(e, cut), scoped)
    return build_once(spark, sf_dir, "gate_ann_drift", build)


def q_ann_recall_after_drift(spark, sf_dir):
    """RECALL UNDER QUANTIZER DRIFT (pipeline/similarity.py
    ann_index_append + tools/drift_sweep.py): the frozen coarse
    quantizer is probed by queries drawn from a DRIFTED appended batch
    (v + d, d a fixed deterministic direction), and the gate reports
    per-query recall@10 at nprobe=2 against exact brute force over
    base ∪ drifted, PLUS the drift signal the append returns (mean
    max-cosine of the appended batch vs the frozen centroids) — the
    number an operator compares against the calibrated
    ``drift_threshold`` (bench_runs/drift_sweep_r13.json ties signal
    to recall: a ~1% relative signal drop already marks a >5%
    recall@10 loss).  Results stay EXACT within probed buckets — the
    oracle recomputes the same frozen-centroid assignment, probe and
    brute force in SQL, so the recall numbers themselves are
    hash-gated, not just sanity-checked."""
    from .similarity import cosine_topk, ivf_assign, ivf_topk_index

    scoped = _ensure_ann_drift_index(spark, sf_dir)
    e = load_tables(spark, sf_dir)["embeddings"]
    cut = 3 * e.count() // 5
    base = e.filter(F.col("vec_id") < cut).select("vec_id", "embedding")
    drifted = _drifted_tail(e, cut)
    corpus = base.unionByName(drifted.select("vec_id", "embedding"))
    q = drifted.filter(F.col("vec_id") < 1000000 + cut + 5) \
        .select("vec_id", "embedding")
    bf = cosine_topk(q, corpus, k=10).select("query_id", "neighbor_id")
    approx = ivf_topk_index(q, scoped, k=10, nprobe=2) \
        .select("query_id", "neighbor_id")
    n_exact = bf.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact"))
    n_hit = (approx.join(bf, ["query_id", "neighbor_id"])
             .groupBy("query_id")
             .agg(F.count(F.lit(1)).cast("long").alias("n_hit")))
    cent = spark.table(f"{scoped}_centroids")
    _c, assigned = ivf_assign(drifted, centroids=cent, keep_score=True)
    sig = assigned.agg(F.avg("cscore").alias("drift_cos"))
    return (n_exact.join(n_hit, "query_id", "left")
            .select("query_id", "n_exact",
                    F.coalesce("n_hit", F.lit(0)).cast("long")
                    .alias("n_hit"))
            .withColumn("recall",
                        F.round(F.col("n_hit") / F.col("n_exact"), 6))
            .crossJoin(F.broadcast(sig))  # 1-row scalar: bounded
            .orderBy("query_id"))


def _sql_ann_recall_after_drift() -> str:
    """The drifted-append IVF in SQL: same deterministic drift vector,
    same frozen subsample centroids (selected over BASE only), same
    6dp-rounded cosine argmax assignment of base ∪ drifted, probe at
    nprobe=2, brute force, per-query recall and the mean assignment
    cosine of the drifted batch."""
    d_expr = "((j*37) % 13 - 6) / 6.0"
    drift_v = (f"list_transform(generate_series(1, {_DRIFT_DIM}), "
               f"j -> ((v[j] + {d_expr})::FLOAT)::DOUBLE)")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cutv AS (SELECT 3 * count(*) // 5 AS c FROM e),
base AS (SELECT vec_id, v FROM e WHERE vec_id < (SELECT c FROM cutv)),
drift AS (SELECT vec_id + 1000000 AS vec_id, {drift_v} AS v
          FROM e WHERE vec_id >= (SELECT c FROM cutv)),
alle AS (SELECT * FROM base UNION ALL SELECT * FROM drift),
cent AS (SELECT vec_id AS centroid_id, v AS centv FROM base
         WHERE vec_id % (SELECT (count(*) + 9) // 10 FROM base) = 0),
assign AS (
  SELECT vid, v, centroid_id FROM (
    SELECT a.vec_id AS vid, a.v, c.centroid_id,
      row_number() OVER (PARTITION BY a.vec_id
        ORDER BY round({_COS.format(a='a.v', b='c.centv')}, 6) DESC,
                 c.centroid_id) AS r
    FROM alle a, cent c) t WHERE r = 1),
qq AS (SELECT vec_id AS query_id, v AS qv FROM drift
       WHERE vec_id < 1000000 + (SELECT c FROM cutv) + 5),
probes AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT q.query_id, q.qv, c.centroid_id,
      row_number() OVER (PARTITION BY q.query_id
        ORDER BY round({_COS.format(a='q.qv', b='c.centv')}, 6) DESC,
                 c.centroid_id) AS r
    FROM qq q, cent c) t WHERE r <= 2),
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.query_id, a.vid AS neighbor_id,
      row_number() OVER (PARTITION BY p.query_id
        ORDER BY round({_COS.format(a='p.qv', b='a.v')}, 6) DESC,
                 a.vid) AS rank
    FROM probes p JOIN assign a USING (centroid_id)
    WHERE p.query_id <> a.vid) t WHERE rank <= 10),
bf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, a.vec_id AS neighbor_id,
      row_number() OVER (PARTITION BY q.query_id
        ORDER BY round({_COS.format(a='q.qv', b='a.v')}, 6) DESC,
                 a.vec_id) AS rank
    FROM qq q, alle a WHERE q.query_id <> a.vec_id) t
  WHERE rank <= 10),
sig AS (SELECT avg(cs) AS drift_cos FROM (
    SELECT max(round({_COS.format(a='d.v', b='c.centv')}, 6)) AS cs
    FROM drift d, cent c GROUP BY d.vec_id) m)
SELECT b.query_id, b.n_exact,
  coalesce(h.n_hit, 0)::BIGINT AS n_hit,
  round(coalesce(h.n_hit, 0)::DOUBLE / b.n_exact, 6) AS recall,
  (SELECT drift_cos FROM sig) AS drift_cos
FROM (SELECT query_id, COUNT(*)::BIGINT AS n_exact FROM bf GROUP BY 1) b
LEFT JOIN (
  SELECT ap.query_id, COUNT(*) AS n_hit
  FROM approx ap
  JOIN (SELECT query_id AS bq, neighbor_id AS bn FROM bf) b2
    ON ap.query_id = b2.bq AND ap.neighbor_id = b2.bn
  GROUP BY 1) h USING (query_id)
ORDER BY query_id
"""


# --- dedup-index compaction lifecycle (VERDICT r12 next-round item 4) --

def _ensure_dedup_compacted_index(spark, sf_dir):
    """Build-once per (app, sf_dir): base index over the even docs, a
    two-batch stream ingested through ``streaming_dedup_ingest``'s
    txn-guarded deltas, then ``dedup_index_compact`` absorbs the delta
    into the bucketed base and resets it — the gate's probes then hit
    the COMPACTED index (no delta union path left in the plan)."""
    import uuid

    from ..queries import scratch_dir
    from ..streaming.operators import streaming_dedup_ingest
    from .dedup import dedup_index_compact

    def build(scoped):
        d = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
        build_dedup_index(d.filter(F.col("doc_id") % 2 == 0), scoped)
        s1 = d.filter(F.col("doc_id") < 20).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" crawl dup marker"))
            .alias("text"))
        s2 = d.filter(F.col("doc_id") < 10).select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" crawl dup marker"))
            .alias("text"))
        base = scratch_dir(spark, sf_dir, "dedupcompact_gate")
        run = uuid.uuid4().hex[:8]
        src = _os.path.join(base, f"src-{run}")
        work = _os.path.join(base, f"work-{run}")
        s1.coalesce(1).write.mode("append").parquet(src)
        s2.coalesce(1).write.mode("append").parquet(src)
        streaming_dedup_ingest(spark, src, s1.schema, scoped, work,
                               threshold=0.5)
        dedup_index_compact(spark, scoped, work)
    return build_once(spark, sf_dir, "gate_dd_cmp", build)


_DRIFT_REL_THRESHOLDS = [0.001, 0.01, 0.05, 0.5]


def q_ann_drift_relative(spark, sf_dir):
    """RELATIVE drift policy (pipeline/similarity.py build_ann_index +
    ann_index_append; VERDICT r13 item 2): ``build_ann_index`` stores
    the build corpus's mean assignment cosine as ``base_signal`` in the
    index meta, and the append-time policy recommends a retrain when
    the batch signal drops more than ``drift_rel_threshold`` RELATIVE
    to that baseline (bench_runs/drift_sweep_r13.json: ~1% relative
    drop ⇔ >5% recall@10 loss, while the ABSOLUTE signal varies per
    corpus).  The gate hash-checks the STORED baseline, the drifted
    batch's signal, the relative drop, and the policy's flip point
    across a threshold ladder — the oracle recomputes all four in SQL
    from the same deterministic drift construction, so a baseline
    stored wrong (or a policy comparing the wrong direction) mismatches
    instead of merely looking plausible."""
    from .similarity import ivf_assign

    scoped = _ensure_ann_drift_index(spark, sf_dir)
    e = load_tables(spark, sf_dir)["embeddings"]
    cut = 3 * e.count() // 5
    drifted = _drifted_tail(e, cut)
    cent = spark.table(f"{scoped}_centroids")
    base_sig = float(spark.table(f"{scoped}_meta").head()["base_signal"])
    _c, assigned = ivf_assign(drifted, centroids=cent, keep_score=True)
    sig = assigned.agg(F.avg("cscore").alias("drift_signal"))
    ladder = spark.createDataFrame(
        [(t,) for t in _DRIFT_REL_THRESHOLDS], "rel_threshold double")
    rel = F.lit(1.0) - F.col("drift_signal") / F.lit(base_sig)
    return (ladder.crossJoin(F.broadcast(sig))  # 1-row scalar: bounded
            .select("rel_threshold",
                    F.lit(base_sig).alias("base_signal"),
                    "drift_signal",
                    rel.alias("signal_rel_drop"),
                    (rel > F.col("rel_threshold")).alias("retrain"))
            .orderBy("rel_threshold"))


def _sql_ann_drift_relative() -> str:
    """base_signal = mean over the BASE corpus of its max 6dp-rounded
    cosine vs the frozen subsample centroids (what the build stores);
    drift_signal = the same mean over the drifted appended batch; the
    relative drop and the ladder verdicts follow arithmetically."""
    d_expr = "((j*37) % 13 - 6) / 6.0"
    drift_v = (f"list_transform(generate_series(1, {_DRIFT_DIM}), "
               f"j -> ((v[j] + {d_expr})::FLOAT)::DOUBLE)")
    ladder = ", ".join(f"({t})" for t in _DRIFT_REL_THRESHOLDS)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cutv AS (SELECT 3 * count(*) // 5 AS c FROM e),
base AS (SELECT vec_id, v FROM e WHERE vec_id < (SELECT c FROM cutv)),
drift AS (SELECT vec_id + 1000000 AS vec_id, {drift_v} AS v
          FROM e WHERE vec_id >= (SELECT c FROM cutv)),
cent AS (SELECT vec_id AS centroid_id, v AS centv FROM base
         WHERE vec_id % (SELECT (count(*) + 9) // 10 FROM base) = 0),
bsig AS (SELECT avg(cs) AS base_signal FROM (
    SELECT max(round({_COS.format(a='b.v', b='c.centv')}, 6)) AS cs
    FROM base b, cent c GROUP BY b.vec_id) m),
dsig AS (SELECT avg(cs) AS drift_signal FROM (
    SELECT max(round({_COS.format(a='d.v', b='c.centv')}, 6)) AS cs
    FROM drift d, cent c GROUP BY d.vec_id) m),
t(rel_threshold) AS (VALUES {ladder})
SELECT t.rel_threshold, b.base_signal, d.drift_signal,
  1 - d.drift_signal / b.base_signal AS signal_rel_drop,
  (1 - d.drift_signal / b.base_signal) > t.rel_threshold AS retrain
FROM t, bsig b, dsig d
ORDER BY t.rel_threshold
"""


def q_dedup_index_compact(spark, sf_dir):
    """INDEX COMPACTION correctness (pipeline/dedup.py
    dedup_index_compact): after a streamed delta is absorbed into the
    bucketed base and reset, a probe batch planted with near-dups of
    BOTH the original corpus and the STREAMED docs must match exactly
    what a from-scratch index over base ∪ stream would return — the
    oracle computes that pair set directly in SQL, so "compaction loses
    the streamed rows" (the silent failure mode of any merge verb)
    would hash-mismatch, not just look plausible."""
    scoped = _ensure_dedup_compacted_index(spark, sf_dir)
    d = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    probe = d.filter(F.col("doc_id") < 15).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" crawl dup marker")).alias("text"))
    return dedup_against_index(probe, scoped, threshold=0.5)


def _sql_dedup_index_compact(max_bucket: int = 1000) -> str:
    """Mirror of the compacted-index probe: corpus = even docs ∪ the
    two streamed batches; batch = the probe set; same banding, hot
    guard and Jaccard verify as ``_sql_dedup_incremental``."""
    hs = DSQL.hashed_shingles("text")
    sig_items = ",\n    ".join(DSQL.minhash_sig_items("hs", 32))
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id + 1000000, text || ' crawl dup marker'
  FROM documents WHERE doc_id < 20
  UNION ALL
  SELECT doc_id + 2000000, text || ' crawl dup marker'
  FROM documents WHERE doc_id < 10),
batch AS (
  SELECT doc_id + 3000000 AS doc_id, text || ' crawl dup marker' AS text
  FROM documents WHERE doc_id < 15),
shb AS (SELECT doc_id, {hs} AS hs FROM batch),
shc AS (SELECT doc_id, {hs} AS hs FROM corpus),
sigb AS (SELECT doc_id, [{sig_items}] AS sig FROM shb),
sigc AS (SELECT doc_id, [{sig_items}] AS sig FROM shc),
bandsb AS (
  SELECT doc_id, b.band_idx,
         md5(array_to_string(list_slice(sig, b.band_idx*4+1, b.band_idx*4+4), ',')) AS band_hash
  FROM sigb, (SELECT unnest(generate_series(0, 7)) AS band_idx) b),
bandsc AS (
  SELECT doc_id, b.band_idx,
         md5(array_to_string(list_slice(sig, b.band_idx*4+1, b.band_idx*4+4), ',')) AS band_hash
  FROM sigc, (SELECT unnest(generate_series(0, 7)) AS band_idx) b),
hotc AS (
  SELECT band_idx, band_hash, MIN(doc_id) AS rep
  FROM bandsc GROUP BY band_idx, band_hash
  HAVING COUNT(*) > {max_bucket}),
cand AS (
  SELECT DISTINCT a.doc_id AS batch_id, c.doc_id AS corpus_id
  FROM (SELECT b.* FROM bandsb b ANTI JOIN hotc h
          ON b.band_idx = h.band_idx AND b.band_hash = h.band_hash) a
  JOIN bandsc c
    ON a.band_idx = c.band_idx AND a.band_hash = c.band_hash
  UNION
  SELECT DISTINCT b.doc_id AS batch_id, h.rep AS corpus_id
  FROM bandsb b JOIN hotc h
    ON b.band_idx = h.band_idx AND b.band_hash = h.band_hash),
j AS (
  SELECT p.batch_id, p.corpus_id,
    round(CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE) /
          (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs))), 6) AS jaccard
  FROM cand p
  JOIN shb sa ON sa.doc_id = p.batch_id
  JOIN shc sb ON sb.doc_id = p.corpus_id)
SELECT batch_id, corpus_id, jaccard FROM j WHERE jaccard >= 0.5
"""


__all__ = [
    'q_ann_recall_after_drift',
    '_sql_ann_recall_after_drift',
    'q_ann_drift_relative',
    '_sql_ann_drift_relative',
    'q_dedup_index_compact',
    '_sql_dedup_index_compact',
    '_STREAM_SRC_BUILT',
    '_events_stream_src',
    '_sql_incremental_agg',
    'q_association_rules',
    '_sql_association_rules',
    'q_label_propagation',
    '_sql_label_propagation_gate',
    'q_streaming_sessions',
    '_SQL_STREAMING_SESSIONS',
    'q_dsir_select',
    '_sql_dsir_select',
    'q_logreg_quality',
    '_sql_logreg_quality',
    'q_skew_diagnose',
    '_sql_skew_diagnose',
    '_sql_ann_recall',
    '_ensure_ann_kmeans_index',
    'q_ann_index_recall',
    '_sql_ann_index_recall',
    'q_gapfill_resample',
    '_sql_gapfill_resample',
    '_EXPECT_RULES',
    'q_validate_expectations',
    '_sql_validate_expectations',
    'q_join_size_estimate',
    '_sql_join_size_estimate',
    '_ZORDER_PREDS',
    'q_zorder_skipping',
    '_sql_zorder_skipping',
    'q_schema_evolution',
    '_SQL_SCHEMA_EVOLUTION',
    'q_csv_dirty_read',
    '_SQL_CSV_DIRTY',
    'q_debounce_events',
    '_sql_debounce_events',
    'q_compaction_plan',
    '_sql_compaction_plan',
    'q_robust_stats',
    '_sql_robust_stats',
    '_append_watermark_sentinels',
    'q_streaming_join_outer',
    '_SQL_STREAMING_JOIN_OUTER',
    'q_streaming_ingest',
    '_SQL_STREAMING_INGEST',
    'q_compact_roundtrip',
    '_SQL_COMPACT_ROUNDTRIP',
    'q_manifest_merge_apply',
    '_SQL_MANIFEST_MERGE_APPLY',
    'q_streaming_join_full_outer',
    '_SQL_STREAMING_JOIN_FULL_OUTER',
    'q_streaming_view_maintenance',
    '_SQL_STREAMING_IVM',
    'q_streaming_stateful_stats',
    '_SQL_STREAMING_STATEFUL',
    'q_streaming_windowed',
    '_SQL_STREAMING_WINDOWED',
    'q_streaming_dedup',
    '_SQL_STREAMING_DEDUP',
    'q_streaming_hopping',
    '_SQL_STREAMING_HOPPING',
]

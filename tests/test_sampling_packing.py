"""Tests for deterministic sampling/splitting, sequence packing, PII
redaction, and connected-components cluster resolution."""

import pytest
from pyspark.sql import functions as F

from steel_datafusion_spark.pipeline.dedup import connected_components
from steel_datafusion_spark.pipeline.packing import pack_chunks
from steel_datafusion_spark.pipeline.sampling import (
    hash_sample, hash_split, stratified_sample_n,
)
from steel_datafusion_spark.pipeline.text import pii_counts, redact_pii


def test_connected_components_chain_pair_triangle(spark):
    # chain 1-2-3-4 (diameter 3 — needs >1 propagation round), isolated
    # pair, triangle; labels must reach the true component minimum
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "doc_a long, doc_b long")
    got = sorted((r.doc_id, r.cluster_id)
                 for r in connected_components(pairs).collect())
    assert got == [(1, 1), (2, 1), (3, 1), (4, 1),
                   (10, 10), (11, 10), (20, 20), (21, 20), (22, 20)]


def test_two_phase_cc_converges_where_propagation_truncates(spark):
    # path graph LONGER than max_iters: min-label propagation moves the
    # label one hop per iteration, so with max_iters=8 a 60-node chain
    # cannot finish — and must say so rather than return split
    # components; two-phase halves the diameter per round (O(log n)) and
    # must fully converge within the same budget
    n = 60
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n)],
                                  "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="max_iters=8.*two-phase"):
        connected_components(pairs, max_iters=8)
    two = connected_components(pairs, max_iters=8, algorithm="two-phase")
    got = sorted((r.doc_id, r.cluster_id) for r in two.collect())
    assert got == [(i, 0) for i in range(n + 1)]


def test_two_phase_cc_matches_propagation_on_mixed_graph(spark):
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22),
         (30, 30)],  # incl. a self-pair: vertex must still be labeled
        "doc_a long, doc_b long")
    a = sorted(map(tuple, connected_components(pairs).collect()))
    b = sorted(map(tuple, connected_components(
        pairs, algorithm="two-phase").collect()))
    assert a == b


def test_two_phase_cc_equals_propagation_on_random_graphs(spark):
    """Property: both CC algorithms reach the identical fixpoint labels on
    arbitrary random graphs (self-loops, duplicate and reversed edges,
    multiple components, isolated cliques)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=6, deadline=None)
    @given(st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        min_size=1, max_size=60))
    def prop(edges):
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        a = sorted(map(tuple, connected_components(pairs).collect()))
        b = sorted(map(tuple, connected_components(
            pairs, algorithm="two-phase").collect()))
        assert a == b

    prop()


def test_cc_reliable_checkpoint(spark, tmp_path):
    # reliable=True routes every iteration through a durable checkpoint
    # dir (executor-loss-safe at cluster scale); results are identical.
    # The context checkpoint dir is shared session state and the barrier
    # refuses to redirect it (ADVICE r5) — reuse whatever is configured.
    existing = spark.sparkContext._jsc.sc().getCheckpointDir()
    ckpt = (existing.get().replace("file:", "") if not existing.isEmpty()
            else str(tmp_path / "ckpt"))
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)],
                                  "doc_a long, doc_b long")
    got = sorted(map(tuple, connected_components(
        pairs, reliable=True, checkpoint_dir=ckpt,
        algorithm="two-phase").collect()))
    assert got == [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]
    import os
    assert any(os.scandir(ckpt))  # data actually landed


def test_connected_components_leaves_no_cache(spark):
    from steel_datafusion_spark.cache import release_all, \
        release_local_checkpoint
    release_all(spark)  # drop barriers left by earlier scope-less tests
    spark.catalog.clearCache()

    def persisted_ids():
        return {int(i) for i in
                spark.sparkContext._jsc.getPersistentRDDs().keySet()}

    # baseline: earlier tests' un-released CC results may still hold
    # checkpoint blocks, which the ContextCleaner may free at any GC —
    # so compare ids, not counts: only RDDs persisted after the
    # baseline are this test's own
    base = persisted_ids()
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    cc = connected_components(pairs)
    cc.collect()
    # intermediates + edges released inside the loop; the result frame's
    # checkpoint blocks release explicitly once materialized
    assert release_local_checkpoint(cc) == 1
    assert persisted_ids() - base == set()


def _py_hash_unit(key, salt: str) -> int:
    """Python mirror of sampling.hash_unit — the engine-independent oracle."""
    import hashlib

    return int(hashlib.md5((salt + str(key)).encode()).hexdigest()[:8], 16)


def test_weighted_sample_out_of_range_and_null_weights(spark):
    """Weights outside [0,1] clamp (w<0 never keeps, w>1 always keeps) and a
    NULL weight drops the row (3VL: NULL threshold comparison is NULL)."""
    from steel_datafusion_spark.pipeline.sampling import weighted_sample

    rows = [(i, w) for i, w in enumerate(
        [-5.0, -0.0001, 0.0, 1.0, 1.0001, 7.5, None] * 30)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    kept = {r.doc_id for r in weighted_sample(df, "w").collect()}
    for i, w in rows:
        if w is None or w <= 0:
            assert i not in kept, f"doc {i} (w={w}) must be dropped"
        elif w >= 1:
            assert i in kept, f"doc {i} (w={w}) must be kept"


def test_weighted_sample_matches_python_oracle_property(spark):
    """Differential property across arbitrary finite weights: kept iff
    md5-hash < floor(clamp(w) * 2^32), mirrored in pure Python."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from steel_datafusion_spark.pipeline.sampling import weighted_sample

    @settings(max_examples=8, deadline=None)
    @given(st.lists(st.floats(-2, 2, allow_nan=False), min_size=5,
                    max_size=12))
    def prop(weights):
        rows = [(i, w) for i, w in enumerate(weights)]
        df = spark.createDataFrame(rows, "doc_id long, w double")
        kept = {r.doc_id for r in weighted_sample(df, "w").collect()}
        want = {i for i, w in rows
                if _py_hash_unit(i, "wsample") <
                int(min(max(w, 0.0), 1.0) * (1 << 32))}
        assert kept == want

    prop()


def test_hash_split_multiway_nonround_weights_property(spark):
    """>2-way splits with arbitrary (normalized, non-round) weights: every
    row lands in exactly one split, and the assignment equals the Python
    mirror of the float-threshold accumulation — the edge VERDICT r3 item 7
    names (cumulative float error at the last boundary must fall into the
    final split, never drop a row)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from steel_datafusion_spark.pipeline.sampling import hash_split

    keys = list(range(150))
    base = spark.createDataFrame([(k,) for k in keys], "doc_id long")
    mod = 1 << 32

    @settings(max_examples=8, deadline=None)
    @given(st.lists(st.floats(0.01, 10, allow_nan=False), min_size=3,
                    max_size=5))
    def prop(raw):
        total = sum(raw)
        names = [f"s{i}" for i in range(len(raw))]
        weights = {n: w / total for n, w in zip(names, raw)}
        got = {r.doc_id: r.split
               for r in hash_split(base, weights).collect()}
        assert len(got) == len(keys)          # total partition, no drops
        # python mirror of the same accumulation
        bounds, acc = [], 0.0
        for n in names:
            acc += weights[n]
            bounds.append((n, int(acc * mod)))
        for k in keys:
            h = _py_hash_unit(k, "split")
            want = next((n for n, b in bounds if h < b), names[-1])
            assert got[k] == want, (k, h, bounds)

    prop()


def test_hash_split_assignment_stable_under_growth(spark):
    """Anti-leak: a key's split never changes when other rows are added."""
    from steel_datafusion_spark.pipeline.sampling import hash_split

    w = {"train": 0.63, "val": 0.22, "test": 0.15}
    small = spark.range(200).select(F.col("id").alias("doc_id"))
    big = spark.range(1000).select(F.col("id").alias("doc_id"))
    a = {r.doc_id: r.split for r in hash_split(small, w).collect()}
    b = {r.doc_id: r.split for r in hash_split(big, w).collect()}
    assert all(b[k] == v for k, v in a.items())


def test_hash_sample_is_stable_under_corpus_growth(spark):
    base = spark.range(1000).select(F.col("id").alias("doc_id"))
    grown = spark.range(2000).select(F.col("id").alias("doc_id"))
    s_base = {r.doc_id for r in hash_sample(base, 0.2).collect()}
    s_grown = {r.doc_id for r in hash_sample(grown, 0.2).collect()}
    # same keys survive regardless of what else is in the table
    assert s_base == {d for d in s_grown if d < 1000}
    # rate is roughly honored (binomial, 1000 trials)
    assert 120 <= len(s_base) <= 280


def test_weighted_sample_edge_weights_and_monotonicity(spark):
    from steel_datafusion_spark.pipeline.sampling import weighted_sample
    df = spark.range(500).select(F.col("id").alias("doc_id"))
    zero = weighted_sample(df.withColumn("w", F.lit(0.0)), "w").count()
    one = weighted_sample(df.withColumn("w", F.lit(1.0)), "w").count()
    assert (zero, one) == (0, 500)
    # out-of-range weights clamp instead of corrupting the threshold
    wild = weighted_sample(df.withColumn("w", F.lit(7.5)), "w").count()
    assert wild == 500
    # same key+salt ⇒ raising the weight only ADDS rows (supersets)
    lo = {r.doc_id for r in
          weighted_sample(df.withColumn("w", F.lit(0.3)), "w").collect()}
    hi = {r.doc_id for r in
          weighted_sample(df.withColumn("w", F.lit(0.6)), "w").collect()}
    assert lo <= hi
    assert 90 <= len(lo) <= 210 and 230 <= len(hi) <= 370


def test_stratified_sample_exact_n_and_deterministic(spark):
    df = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).alias("lang"))
    a = stratified_sample_n(df, ["lang"], 7)
    counts = {r.lang: r.n for r in
              a.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {0: 7, 1: 7, 2: 7}
    # rerun → identical rows
    b = stratified_sample_n(df, ["lang"], 7)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_hash_split_partitions_and_never_moves_rows(spark):
    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    out = hash_split(df, {"train": 0.8, "val": 0.1, "test": 0.1})
    rows = {r.doc_id: r.split for r in out.collect()}
    assert len(rows) == 2000
    n_train = sum(1 for s in rows.values() if s == "train")
    assert 1480 <= n_train <= 1700          # ~80%, binomial tolerance
    # growing the corpus must not reassign existing rows (anti-leak)
    grown = hash_split(spark.range(4000).select(F.col("id").alias("doc_id")),
                       {"train": 0.8, "val": 0.1, "test": 0.1})
    grown_rows = {r.doc_id: r.split for r in grown.collect()}
    assert all(grown_rows[d] == s for d, s in rows.items())


def test_hash_split_rejects_bad_weights(spark):
    import pytest
    df = spark.range(5).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError):
        hash_split(df, {"train": 0.5, "test": 0.4})


def test_pack_chunks_bins_and_straddle(spark):
    # budget 10; spans: doc1 0-3, doc2 4-9 (ends flush at the cut — no
    # straddle), doc3 10-14 (starts exactly on a boundary → bin 1), doc4
    # 15-21 (crosses the cut at 20 → straddle)
    df = spark.createDataFrame(
        [(1, "g", 4), (2, "g", 6), (3, "g", 5), (4, "g", 7)],
        "doc_id long, grp string, t long")
    out = {r.doc_id: (r.bin_id, r.straddle)
           for r in pack_chunks(df, ["grp"], "doc_id", "t", 10).collect()}
    assert out == {1: (0, False), 2: (0, False), 3: (1, False), 4: (1, True)}


def test_pack_chunks_zero_token_doc_owns_a_position(spark):
    df = spark.createDataFrame([(1, "g", 0), (2, "g", 9)],
                               "doc_id long, grp string, t long")
    out = {r.doc_id: r.tokens_before
           for r in pack_chunks(df, ["grp"], "doc_id", "t", 10).collect()}
    assert out == {1: 0, 2: 1}     # zero-token doc counted as 1


def test_pii_redaction_and_progressive_counts(spark):
    df = spark.createDataFrame(
        [("mail a@b.io and b@c.org, call 555-123-4567, host 10.0.0.1",)],
        "t string")
    r = df.select(redact_pii(F.col("t")).alias("red"),
                  *pii_counts(F.col("t"))).collect()[0]
    assert r.red == "mail <EMAIL> and <EMAIL>, call <PHONE>, host <IP>"
    assert (r.n_email, r.n_phone, r.n_ipv4) == (2, 1, 1)
    # the email's host part must not be re-counted as anything else
    df2 = spark.createDataFrame([("u@10.0.0.1.example.com only",)], "t string")
    r2 = df2.select(*pii_counts(F.col("t"))).collect()[0]
    assert (r2.n_email, r2.n_ipv4) == (1, 0)


def test_domain_cap_deterministic_under_growth(spark):
    """domain_cap keeps the md5-preferred rows; growing a domain must never
    evict a previously-kept hash-earlier row (the anti-churn property)."""
    from steel_datafusion_spark.pipeline.sampling import domain_cap

    base = spark.range(100).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 4).cast("string").alias("source"))
    kept_base = {r.doc_id for r in domain_cap(base, 10).collect()}
    # each domain holds exactly the cap
    per = domain_cap(base, 10).groupBy("source").count().collect()
    assert all(r["count"] == 10 for r in per) and len(per) == 4

    grown = base.unionByName(spark.range(100, 160).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 4).cast("string").alias("source")))
    kept_grown = {r.doc_id for r in domain_cap(grown, 10).collect()}
    # new rows may displace only hash-later rows; every survivor of the
    # grown corpus that existed in the base corpus was kept there too
    assert all(d in kept_base for d in kept_grown if d < 100)


def test_shard_assignment_contract(spark):
    from steel_datafusion_spark.pipeline.sampling import shard_assignment
    import pytest as _pytest

    d = spark.range(1000).select(F.col("id").alias("doc_id"))
    out = shard_assignment(d, 8).collect()
    assert len(out) == 1000
    by_shard: dict = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    # every shard used, roughly uniform (1000/8 = 125 ± 40%)
    assert set(by_shard) == set(range(8))
    assert all(75 <= len(v) <= 175 for v in by_shard.values())
    # pos is a contiguous 1..n ranking within each shard
    for v in by_shard.values():
        assert sorted(v) == list(range(1, len(v) + 1))
    # reruns are byte-identical; a different salt reshuffles
    again = shard_assignment(d, 8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    other = shard_assignment(d, 8, salt="epoch2").collect()
    assert sorted(map(tuple, out)) != sorted(map(tuple, other))
    with _pytest.raises(ValueError, match="n_shards"):
        shard_assignment(d, 0)


def test_token_budget_subset_matches_global_sort(spark):
    """The two-phase prefix sum must equal the naive global-window running
    total exactly, for every bucket count, including the budget boundary."""
    from pyspark.sql.window import Window

    from steel_datafusion_spark.pipeline.sampling import (
        hash_unit, token_budget_subset,
    )

    df = spark.createDataFrame(
        [(i, 10 + (i * 7) % 50) for i in range(300)], "doc_id long, tok long")
    w = Window.orderBy(hash_unit(F.col("doc_id"), "budget"), "doc_id")
    naive = df.withColumn("cum", F.sum("tok").over(w)) \
              .filter(F.col("cum") <= 3000)
    want = {(r.doc_id, r.cum) for r in naive.collect()}
    for n_buckets in (1, 16, 256):
        got = {(r.doc_id, r._cum_tokens) for r in token_budget_subset(
            df, "tok", 3000, n_buckets=n_buckets).collect()}
        assert got == want, n_buckets
    assert 0 < len(want) < 300          # budget actually bites
    # exact boundary: budget = max cum of the kept set keeps the same rows
    edge = max(c for _, c in want)
    got_edge = {(r.doc_id, r._cum_tokens) for r in token_budget_subset(
        df, "tok", edge).collect()}
    assert got_edge == want
    import pytest
    with pytest.raises(ValueError):
        token_budget_subset(df, "tok", 100, n_buckets=100)  # not power of 2

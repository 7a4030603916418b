"""Incremental maintenance of the persisted ANN and dedup indexes
(VERDICT r11 item 2): ``ann_index_append`` / ``dedup_index_append``
absorb a corpus batch by assigning/banding ONLY the batch against the
stored quantizer/parameters and appending to the bucketed tables.

The contract under test:

1. an index grown across >=2 appends is BIT-IDENTICAL to a one-shot
   build over the full corpus with the same (frozen) quantizer — probes
   return exactly the same rows;
2. the append never re-scans the base corpus source (executed-plan
   assertion);
3. the MinHash hot-bucket flood guard stays EXACT through appends — a
   bucket pushed over the occupancy cap BY the batch is detected;
4. drift telemetry reports, and the bucketed layout survives appends.
"""

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _drop(spark, *tables):
    from steel_datafusion_spark.sources.bucketing import drop_managed_table

    for t in tables:
        drop_managed_table(spark, t)


def _idx_tables(name):
    return [f"{name}_{s}" for s in
            ("bands", "shingles", "meta", "hot", "centroids", "assign")]


def test_ann_index_append_equals_full_rebuild(spark):
    from steel_datafusion_spark.pipeline.similarity import (
        ann_index_append, build_ann_index, ivf_topk_index,
    )

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = e.count()
    cut = n * 3 // 5
    base = e.filter(F.col("vec_id") < cut)
    b1 = e.filter((F.col("vec_id") >= cut) & (F.col("vec_id") % 2 == 0))
    b2 = e.filter((F.col("vec_id") >= cut) & (F.col("vec_id") % 2 == 1))
    q = e.filter(F.col("vec_id") < 5)
    _drop(spark, *_idx_tables("annap_g"), *_idx_tables("annap_f"))
    try:
        build_ann_index(base, "annap_g", nlist=10, n_buckets=4)
        r1 = ann_index_append(b1, "annap_g", drift_threshold=0.0,
                              drift_rel_threshold=None)
        r2 = ann_index_append(b2, "annap_g")
        assert r1["appended"] + r2["appended"] == n - cut
        assert 0.0 <= r1["mean_centroid_cosine"] <= 1.0 or \
            r1["mean_centroid_cosine"] >= -1.0
        # absolute-only policy (rel disabled): mean >= 0 > threshold
        assert r1["retrain_recommended"] is False
        # the build stored the relative-drift baseline and the append
        # reported the relative drop against it
        assert r1["base_signal"] is not None and r1["base_signal"] > 0
        assert r1["signal_rel_drop"] is not None
        assert abs(r1["signal_rel_drop"]
                   - (1 - r1["mean_centroid_cosine"]
                      / r1["base_signal"])) < 1e-12
        grown = ivf_topk_index(q, "annap_g", k=10, nprobe=2)
        # one-shot rebuild over the FULL corpus with the SAME frozen
        # quantizer must reproduce the grown index bit-for-bit
        build_ann_index(e, "annap_f", nlist=10, n_buckets=4,
                        centroids=spark.table("annap_g_centroids"))
        full = ivf_topk_index(q, "annap_f", k=10, nprobe=2)
        assert _rows(grown) == _rows(full)
        assert len(_rows(grown)) == 5 * 10
        # the probe's candidate join still reads the bucketed layout
        # shuffle-free on the assignment side after appends
        plan = grown._jdf.queryExecution().executedPlan().toString()
        assert "annap_g_assign" in plan
        # at most the query side exchanges on the join key (none at all
        # when AQE broadcasts the probes); the appended bucketed
        # assignment scan reaches the join shuffle-free either way
        assert plan.count("Exchange hashpartitioning(centroid_id") <= 1, \
            plan[:3000]
        assert "SelectedBucketsCount" in plan  # bucket spec survived
    finally:
        _drop(spark, *_idx_tables("annap_g"), *_idx_tables("annap_f"))


def test_ann_index_append_rejects_missing_carry(spark):
    from steel_datafusion_spark.pipeline.similarity import (
        ann_index_append, build_ann_index,
    )

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet") \
        .withColumn("label", (F.col("vec_id") % 3).cast("int"))
    _drop(spark, *_idx_tables("annap_c"))
    try:
        build_ann_index(e.filter(F.col("vec_id") < 100), "annap_c",
                        nlist=5, n_buckets=2, carry=("label",))
        with pytest.raises(ValueError, match="label"):
            ann_index_append(
                e.filter(F.col("vec_id") >= 100).drop("label"), "annap_c")
    finally:
        _drop(spark, *_idx_tables("annap_c"))


def test_dedup_index_append_equals_full_rebuild(spark):
    from steel_datafusion_spark.pipeline.dedup import (
        build_dedup_index, dedup_against_index, dedup_index_append,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter((F.col("doc_id") % 2 == 1) & (F.col("doc_id") % 4 == 1))
    b2 = docs.filter((F.col("doc_id") % 2 == 1) & (F.col("doc_id") % 4 == 3))
    probe = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" steel spark dedup")).alias("text"))
    probe = spark.createDataFrame(probe.collect(), schema=probe.schema)
    _drop(spark, *_idx_tables("ddap_g"), *_idx_tables("ddap_f"))
    try:
        build_dedup_index(base, "ddap_g", n_buckets=4)
        s1 = dedup_index_append(b1, "ddap_g")
        s2 = dedup_index_append(b2, "ddap_g")
        assert s1["appended_docs"] + s2["appended_docs"] == \
            docs.count() - base.count()
        got = dedup_against_index(probe, "ddap_g", threshold=0.5)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "testdata" not in plan  # probe never rescans the corpus
        build_dedup_index(docs, "ddap_f", n_buckets=4)
        want = dedup_against_index(probe, "ddap_f", threshold=0.5)
        assert _rows(got) == _rows(want)
        assert len(_rows(got)) >= 20  # the planted near-dups all match
    finally:
        _drop(spark, *_idx_tables("ddap_g"), *_idx_tables("ddap_f"))


def test_dedup_index_append_maintains_hot_guard_exactly(spark):
    """A band bucket pushed over the occupancy cap BY an appended batch
    must enter the hot table (with the global min-id rep), keeping the
    flood guard identical to a from-scratch build — probes on a grown
    index stay flood-proof."""
    from steel_datafusion_spark.pipeline.dedup import (
        build_dedup_index, dedup_against_index, dedup_index_append,
    )

    flood = "common boilerplate header repeated verbatim across pages"
    mk = lambda lo, hi: spark.createDataFrame(  # noqa: E731
        [(i, flood) for i in range(lo, hi)], "doc_id long, text string")
    _drop(spark, *_idx_tables("ddhot_g"), *_idx_tables("ddhot_f"))
    try:
        # cap=6: 4 base copies stay cold; +8 appended copies cross it
        build_dedup_index(mk(0, 4), "ddhot_g", n_buckets=2, max_bucket=6)
        assert spark.table("ddhot_g_hot").count() == 0
        dedup_index_append(mk(100, 108), "ddhot_g")
        hot_g = _rows(spark.table("ddhot_g_hot"))
        assert len(hot_g) > 0  # the batch made the bucket hot
        build_dedup_index(mk(0, 4).unionByName(mk(100, 108)), "ddhot_f",
                          n_buckets=2, max_bucket=6)
        assert hot_g == _rows(spark.table("ddhot_f_hot"))
        probe = spark.createDataFrame([(999999, flood)],
                                      "doc_id long, text string")
        got = dedup_against_index(probe, "ddhot_g", threshold=0.5)
        want = dedup_against_index(probe, "ddhot_f", threshold=0.5)
        assert _rows(got) == _rows(want)
    finally:
        _drop(spark, *_idx_tables("ddhot_g"), *_idx_tables("ddhot_f"))


def test_dedup_index_append_requires_meta(spark):
    from steel_datafusion_spark.pipeline.dedup import dedup_index_append

    _drop(spark, "ddnometa_meta")
    with pytest.raises(ValueError, match="meta"):
        dedup_index_append(
            spark.createDataFrame([(1, "x")], "doc_id long, text string"),
            "ddnometa")


def test_build_ann_index_in_place_rebuild_with_own_centroids(spark):
    """The documented maintenance call — rebuilding an index IN PLACE
    with its OWN stored centroids — must not destroy the quantizer it
    reads: the centroids argument is materialized before the drops."""
    from pyspark.sql import functions as F

    from steel_datafusion_spark.pipeline.similarity import (
        build_ann_index, ivf_topk_index,
    )

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    _drop(spark, *_idx_tables("annap_ip"))
    try:
        build_ann_index(e.filter(F.col("vec_id") < 300), "annap_ip",
                        nlist=8, n_buckets=2)
        q = e.filter(F.col("vec_id") < 3)
        before = _rows(ivf_topk_index(q, "annap_ip", k=5, nprobe=2))
        # grow the corpus, rebuild THE SAME index with its own quantizer
        build_ann_index(e, "annap_ip", nlist=8, n_buckets=2,
                        centroids=spark.table("annap_ip_centroids"))
        after = _rows(ivf_topk_index(q, "annap_ip", k=5, nprobe=2))
        assert len(after) == len(before) == 3 * 5  # index alive, grown
    finally:
        _drop(spark, *_idx_tables("annap_ip"))


def test_dedup_hot_swap_crash_recovers(spark):
    """A hot-table swap that crashed between the drop and the rename
    (swap table present, hot table gone): a probe reads the complete
    swap without writing anything, so it answers as the index did
    before the crash and a capped index never probes unguarded; the
    next locked verb restores the hot table (sources/index_tables)."""
    from steel_datafusion_spark.pipeline.dedup import (
        build_dedup_index, dedup_against_index, dedup_index_append,
    )

    flood = "common boilerplate header repeated verbatim across pages"
    mk = lambda lo, hi: spark.createDataFrame(  # noqa: E731
        [(i, flood) for i in range(lo, hi)], "doc_id long, text string")
    _drop(spark, *_idx_tables("ddhot_r"))
    try:
        build_dedup_index(mk(0, 4), "ddhot_r", n_buckets=2, max_bucket=6)
        dedup_index_append(mk(100, 108), "ddhot_r")
        hot = sorted(map(tuple, spark.table("ddhot_r_hot").collect()))
        assert hot
        probe = spark.createDataFrame([(999999, flood)],
                                      "doc_id long, text string")
        before = _rows(dedup_against_index(probe, "ddhot_r", threshold=0.5))
        # simulate the crash window: hot dropped, swap holds the truth
        spark.table("ddhot_r_hot").write.saveAsTable("ddhot_r_hot_swap")
        _drop(spark, "ddhot_r_hot")
        got = _rows(dedup_against_index(probe, "ddhot_r", threshold=0.5))
        assert got == before  # the probe read the swap: still guarded
        assert not spark.catalog.tableExists("ddhot_r_hot")  # read only
        # the next locked verb heals the swap before its own work
        dedup_index_append(spark.createDataFrame(
            [(5000, "an unrelated page about rivers and boats")],
            "doc_id long, text string"), "ddhot_r")
        assert sorted(map(tuple,
                          spark.table("ddhot_r_hot").collect())) == hot
        assert not spark.catalog.tableExists("ddhot_r_hot_swap")
    finally:
        _drop(spark, *_idx_tables("ddhot_r"), "ddhot_r_hot_swap")


def _writer_script(kind: str) -> str:
    """Child-process source for the cross-process appender race: attach
    the shared index from the warehouse, append this writer's batches
    (the IndexLock serializes with the sibling process), print DONE."""
    import textwrap

    body = {
        "dedup": """
            from steel_datafusion_spark.pipeline.dedup import (
                attach_dedup_index, dedup_index_append)
            assert attach_dedup_index(spark, name)
            docs = spark.read.parquet(sf + "/documents.parquet") \\
                .select("doc_id", "text")
            for i in range(2):  # lane 0: ids %8 in {1,5}; lane 1: {3,7}
                b = docs.filter(
                    F.col("doc_id") % 8 == (2 * lane + 1) + 4 * i)
                dedup_index_append(b, name)
        """,
        "ann": """
            from steel_datafusion_spark.pipeline.similarity import (
                attach_ann_index, ann_index_append)
            assert attach_ann_index(spark, name)
            e = spark.read.parquet(sf + "/embeddings.parquet")
            n = e.count(); cut = n * 3 // 5
            for i in range(2):
                b = e.filter((F.col("vec_id") >= cut)
                             & (F.col("vec_id") % 2 == lane)
                             & (F.col("vec_id") % 4 == lane + 2 * i))
                ann_index_append(b, name)
        """,
    }[kind]
    return textwrap.dedent("""
        import os, sys
        sys.path.insert(0, __REPO_ROOT__)
        name, lane, wh, sf = (sys.argv[1], int(sys.argv[2]),
                              sys.argv[3], sys.argv[4])
        from pyspark.sql import SparkSession
        from pyspark.sql import functions as F
        spark = (SparkSession.builder.master("local[4]")
                 .config("spark.ui.enabled", "false")
                 .config("spark.sql.shuffle.partitions", "4")
                 .config("spark.sql.warehouse.dir", wh)
                 .appName(f"idx-race-{lane}").getOrCreate())
        spark.sparkContext.setLogLevel("ERROR")
    """) + textwrap.dedent(body) + \
        'spark.stop()\nprint("WRITER_DONE")\n'


def _clear_idx_coordination(spark, *names):
    """Remove txn logs and lock files left by earlier runs — these live
    beside the warehouse tables, not IN the catalog, so _drop misses
    them."""
    import os
    import shutil
    import urllib.parse

    wh = spark.conf.get("spark.sql.warehouse.dir")
    if wh.startswith("file:"):
        wh = urllib.parse.unquote(urllib.parse.urlparse(wh).path)
    for name in names:
        shutil.rmtree(os.path.join(wh, f"{name.lower()}__idxtxn"),
                      ignore_errors=True)
        try:
            os.unlink(os.path.join(wh, f"{name.lower()}__idxlock"))
        except OSError:
            pass


def _run_racers(kind, name, warehouse):
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = _writer_script(kind).replace("__REPO_ROOT__", repr(repo))
    procs = [subprocess.Popen(
        [sys.executable, "-c", script, name, str(lane), warehouse,
         SF_DIR],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        for lane in (0, 1)]
    outs = [p.communicate(timeout=600) for p in procs]
    for p, (out, err) in zip(procs, outs):
        assert p.returncode == 0, f"racer failed:\n{out}\n{err[-3000:]}"
        assert "WRITER_DONE" in out


def test_dedup_concurrent_appenders_serialize_cross_process(spark):
    """TWO REAL Spark drivers append disjoint batches to ONE persisted
    dedup index concurrently.  The per-index IndexLock must serialize
    the cycles (txn log contiguous, one record per append) and the
    final index must probe IDENTICALLY to a one-shot build over the
    full corpus — appends are commutative, so any serialization order
    is correct, but an UNserialized interleaving corrupts the managed
    tables (VERDICT r12 missing #3)."""
    import os
    import urllib.parse

    from steel_datafusion_spark.pipeline.dedup import (
        build_dedup_index, dedup_against_index,
    )
    from steel_datafusion_spark.sources.locking import index_txns

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    probe = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" steel spark dedup")).alias("text"))
    probe = spark.createDataFrame(probe.collect(), schema=probe.schema)
    wh = spark.conf.get("spark.sql.warehouse.dir")
    if wh.startswith("file:"):
        wh = urllib.parse.unquote(urllib.parse.urlparse(wh).path)
    name, full = "ddrace_g", "ddrace_f"
    _drop(spark, *_idx_tables(name), *_idx_tables(full))
    _clear_idx_coordination(spark, name, full)
    try:
        build_dedup_index(base, name, n_buckets=4)
        _run_racers("dedup", name, wh)
        # txn log: 4 contiguous, gap-free append records
        txns = index_txns(spark, name)
        assert [t["version"] for t in txns] == [1, 2, 3, 4]
        assert all(t["meta"]["verb"] == "dedup_index_append"
                   for t in txns)
        # rows landed exactly once: appended docs == the odd half
        total_appended = sum(t["meta"]["appended_docs"] for t in txns)
        assert total_appended == docs.count() - base.count()
        # probes equal the one-shot full build (the parent session's
        # catalog predates the appends: re-read through a fresh scan)
        for t in ("bands", "shingles", "hot"):
            spark.catalog.refreshTable(f"{name}_{t}")
        got = dedup_against_index(probe, name, threshold=0.5)
        build_dedup_index(docs, full, n_buckets=4)
        want = dedup_against_index(probe, full, threshold=0.5)
        assert _rows(got) == _rows(want)
        assert len(_rows(got)) >= 20
    finally:
        _drop(spark, *_idx_tables(name), *_idx_tables(full))
        _clear_idx_coordination(spark, name, full)


def test_ann_concurrent_appenders_serialize_cross_process(spark):
    """The ANN twin of the dedup race: two drivers ann_index_append
    disjoint embedding batches under the IndexLock; the txn log is
    contiguous and probes equal a one-shot build with the same frozen
    quantizer."""
    import urllib.parse

    from steel_datafusion_spark.pipeline.similarity import (
        build_ann_index, ivf_topk_index,
    )
    from steel_datafusion_spark.sources.locking import index_txns

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = e.count()
    cut = n * 3 // 5
    base = e.filter(F.col("vec_id") < cut)
    q = e.filter(F.col("vec_id") < 5)
    wh = spark.conf.get("spark.sql.warehouse.dir")
    if wh.startswith("file:"):
        wh = urllib.parse.unquote(urllib.parse.urlparse(wh).path)
    name, full = "annrace_g", "annrace_f"
    _drop(spark, *_idx_tables(name), *_idx_tables(full))
    _clear_idx_coordination(spark, name, full)
    try:
        build_ann_index(base, name, nlist=10, n_buckets=4)
        _run_racers("ann", name, wh)
        txns = index_txns(spark, name)
        assert [t["version"] for t in txns] == [1, 2, 3, 4]
        assert sum(t["meta"]["appended"] for t in txns) == n - cut
        spark.catalog.refreshTable(f"{name}_assign")
        got = ivf_topk_index(q, name, k=5, nprobe=10)
        build_ann_index(e, full, nlist=10, n_buckets=4,
                        centroids=spark.table(f"{name}_centroids"))
        want = ivf_topk_index(q, full, k=5, nprobe=10)
        assert _rows(got) == _rows(want)
    finally:
        _drop(spark, *_idx_tables(name), *_idx_tables(full))
        _clear_idx_coordination(spark, name, full)


def test_attach_dedup_index_recovers_crashed_compact_swap(spark):
    """A dedup_index_compact that crashed between an index table's drop
    and its rename leaves only the {name}_{t}_cswap DIRECTORY (the
    in-catalog recovery branch can't help a FRESH process whose catalog
    never saw the cswap table).  attach_dedup_index must finish the
    swap at directory level — mirroring attach_ann_index — and the
    recovered index must probe identically (ADVICE r13)."""
    import os
    import subprocess
    import sys
    import textwrap

    from steel_datafusion_spark.pipeline.dedup import (
        build_dedup_index, dedup_against_index,
    )
    from steel_datafusion_spark.sources.bucketing import (
        _warehouse_path, write_bucketed,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text").filter(F.col("doc_id") < 200)
    probe = docs.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 500000).alias("doc_id"), "text")
    probe = spark.createDataFrame(probe.collect(), schema=probe.schema)
    name = "ddcswrec"
    swaps = [f"{name}_bands_cswap", f"{name}_shingles_cswap"]
    _drop(spark, *_idx_tables(name), *swaps)
    try:
        build_dedup_index(docs, name, n_buckets=2)
        want = _rows(dedup_against_index(probe, name, threshold=0.5))
        assert want
        # crash state: merged rows live ONLY under the cswap dirs, the
        # base tables are dropped (dir + catalog entry gone)
        write_bucketed(spark.table(f"{name}_bands"), swaps[0],
                       ["band_hash"], 2, sort_cols=["band_hash"])
        write_bucketed(spark.table(f"{name}_shingles"), swaps[1],
                       ["corpus_id"], 2)
        _drop(spark, f"{name}_bands", f"{name}_shingles")
        assert not os.path.isdir(_warehouse_path(spark, f"{name}_bands"))
        # a FRESH process attaches: must finish the swap and probe equal
        wh = _warehouse_path(spark, name).rsplit("/", 1)[0]
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        script = textwrap.dedent(f"""
            import sys
            sys.path.insert(0, {repo!r})
            from pyspark.sql import SparkSession
            spark = (SparkSession.builder.master("local[4]")
                     .config("spark.ui.enabled", "false")
                     .config("spark.sql.shuffle.partitions", "4")
                     .config("spark.sql.warehouse.dir", {wh!r})
                     .appName("cswap-recover").getOrCreate())
            spark.sparkContext.setLogLevel("ERROR")
            from steel_datafusion_spark.pipeline.dedup import (
                attach_dedup_index, dedup_against_index)
            assert attach_dedup_index(spark, {name!r})
            probe = spark.read.parquet({SF_DIR!r} + "/documents.parquet") \\
                .filter("doc_id < 10") \\
                .selectExpr("doc_id + 500000 as doc_id", "text")
            rows = sorted(map(tuple, dedup_against_index(
                probe, {name!r}, threshold=0.5).collect()))
            print("ROWS", rows)
        """)
        r = subprocess.run([sys.executable, "-c", script],
                           capture_output=True, text=True, timeout=600)
        assert r.returncode == 0, r.stderr[-3000:]
        line = [ln for ln in r.stdout.splitlines()
                if ln.startswith("ROWS ")][0]
        assert line == f"ROWS {want}"
        # the swap dirs are gone, the base dirs are back
        assert os.path.isdir(_warehouse_path(spark, f"{name}_bands"))
        assert not os.path.isdir(
            _warehouse_path(spark, f"{name}_bands_cswap"))
    finally:
        _drop(spark, *_idx_tables(name), *swaps)


def test_ann_drift_relative_policy(spark):
    """The calibrated drift policy is RELATIVE (VERDICT r13 item 3):
    build_ann_index stores the build corpus's mean assignment cosine as
    base_signal; ann_index_append reports signal_rel_drop against it
    and recommends a retrain past drift_rel_threshold (default 1%).
    Pre-r14 indexes without a stored baseline fall back to the
    absolute check alone."""
    from steel_datafusion_spark.pipeline.similarity import (
        ann_index_append, build_ann_index,
    )

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cut = 3 * e.count() // 5
    base = e.filter(F.col("vec_id") < cut)
    dim = len(e.head().embedding)
    drifted = e.filter(F.col("vec_id") >= cut).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda v, j: (v + ((j * 37) % 13 - 6) / 6.0).cast("float"),
        ).alias("embedding"))
    undrifted = e.filter(F.col("vec_id") >= cut).select(
        (F.col("vec_id") + 2000000).alias("vec_id"), "embedding")
    _drop(spark, *_idx_tables("anndrel"))
    try:
        build_ann_index(base, "anndrel", nlist=10, n_buckets=4)
        meta = spark.table("anndrel_meta").head()
        assert meta.base_signal is not None and meta.base_signal > 0
        assert meta.ref_signal is None  # set by the first append
        # FIRST append (undrifted): records ref_signal, relative policy
        # abstains (base_signal is in-sample — judging the first batch
        # against it would cry wolf on every undrifted ingest)
        r0 = ann_index_append(undrifted, "anndrel")
        assert r0["retrain_recommended"] is False
        assert r0["ref_signal"] == pytest.approx(
            r0["mean_centroid_cosine"])
        assert spark.table("anndrel_meta").head().ref_signal == \
            pytest.approx(r0["mean_centroid_cosine"])
        # SECOND append (drifted): relative drop vs ref_signal fires
        # the default 1% policy
        r = ann_index_append(drifted, "anndrel")
        assert r["base_signal"] == pytest.approx(meta.base_signal)
        assert r["ref_signal"] == pytest.approx(r0["ref_signal"])
        assert r["signal_rel_drop"] == pytest.approx(
            1 - r["mean_centroid_cosine"] / r0["ref_signal"])
        assert r["signal_rel_drop"] > 0.01  # a real drift fires it
        assert r["retrain_recommended"] is True
        # a generous relative threshold silences it
        r2 = ann_index_append(
            drifted.limit(5), "anndrel", drift_rel_threshold=5.0)
        assert r2["retrain_recommended"] is False
        # pre-r14 meta (no baseline columns): absolute-only fallback
        spark.sql("DROP TABLE anndrel_meta")
        spark.createDataFrame(
            [(10, 4, "subsample")], "nlist int, n_buckets int, train string"
        ).write.saveAsTable("anndrel_meta")
        r3 = ann_index_append(drifted.limit(5), "anndrel",
                              drift_threshold=0.99)
        assert r3["base_signal"] is None
        assert r3["signal_rel_drop"] is None
        assert r3["retrain_recommended"] is True  # absolute fired
    finally:
        _drop(spark, *_idx_tables("anndrel"))

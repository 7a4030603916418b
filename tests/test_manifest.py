"""Manifest-commit protocol (sources/manifest.py): atomic versioned
tables under merge_upsert and streaming view maintenance — snapshot
reads, optimistic writer concurrency, hardlinked untouched partitions,
orphan/retention vacuum."""

import json
import os
import threading

import pytest
from pyspark.sql import functions as F


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k long, s string, v long")


def _downgrade_stats_to_legacy_json(data_dir, splits=True,
                                    combined=True):
    """Convert a version dir's _stats.parquet into the PRE-r13 on-disk
    formats (combined _stats.json and/or per-column _statscol-*.json),
    deleting the parquet — lets the legacy-format tests exercise the
    old layouts that real pre-upgrade tables still carry."""
    import urllib.parse

    import pyarrow.parquet as pq

    from steel_datafusion_spark.sources.filestats import (
        stats_cols_of, stats_parquet_path,
    )

    cols = stats_cols_of(data_dir)
    tbl = pq.read_table(stats_parquet_path(data_dir)).to_pylist()
    files = {}
    for row in tbl:
        entry = {}
        for c in cols:
            if not row.get(f"ok:{c}"):
                entry[c] = None
            elif row.get(f"lo:{c}") is None:
                entry[c] = {"nulls": row.get(f"nulls:{c}")}
            else:
                entry[c] = {"lo": row[f"lo:{c}"], "hi": row[f"hi:{c}"],
                            "nulls": row.get(f"nulls:{c}")}
        files[row["rel"]] = {"rows": row.get("rows"), "cols": entry}
    # bounds that JSON can't hold (datetimes, Decimals) are written as
    # strings: upgrade_table_stats reads only the column list
    if combined:
        with open(os.path.join(data_dir, "_stats.json"), "w") as fh:
            json.dump({"stats_cols": cols, "files": files}, fh,
                      default=str)
    if splits:
        for c in cols:
            split = {rel: {"rows": fi.get("rows"),
                           "c": (fi.get("cols") or {}).get(c)}
                     for rel, fi in files.items()}
            name = "_statscol-" + urllib.parse.quote(c, safe="") + ".json"
            with open(os.path.join(data_dir, name), "w") as fh:
                json.dump({"col": c, "files": split}, fh, default=str)
    os.unlink(stats_parquet_path(data_dir))


def _footer_may_contain(path, col, val):
    """May the data file at ``path`` hold ``col == val``, judged from its
    own parquet footer (read here, independent of any sidecar)?  The
    row groups' min/max aggregate to one file range, as the stats
    sidecar keeps them; a row group without min/max makes the whole
    file may-contain."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    lo = hi = None
    for rgi in range(md.num_row_groups):
        rg = md.row_group(rgi)
        for ci in range(md.num_columns):
            cm = rg.column(ci)
            if cm.path_in_schema != col:
                continue
            st = cm.statistics
            if st is None or not st.has_min_max:
                return True
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
    return lo is None or lo <= val <= hi


def _downgrade_bloom_to_legacy_json(data_dir, col):
    """Convert one column's _bloom-<col>.parquet into the pre-r13
    per-column JSON sidecar (b64 filter bytes), deleting the parquet."""
    import base64
    import urllib.parse

    from steel_datafusion_spark.sources.filestats import (
        bloom_parquet_path, load_bloom_parquet,
    )

    b = load_bloom_parquet(data_dir, col)
    files = {rel: base64.b64encode(b["mat"][i].tobytes()).decode()
             for i, rel in enumerate(b["rels"].to_pylist())}
    name = "_bloom-" + urllib.parse.quote(col, safe="") + ".json"
    with open(os.path.join(data_dir, name), "w") as fh:
        json.dump({"col": col, "bits": b["bits"], "k": b["k"],
                   "files": files}, fh)
    os.unlink(bloom_parquet_path(data_dir, col))


def test_manifest_upsert_roundtrip_and_idempotence(spark, tmp_path):
    from steel_datafusion_spark.sources.readers import (
        merge_upsert, read_parquet,
    )

    out = str(tmp_path / "tbl")
    merge_upsert(spark, out, _mk(spark, [(1, "a", 10), (2, "b", 20),
                                         (3, "c", 30)]), ["k"])
    upd = _mk(spark, [(2, "b2", 99), (4, "d", 40)])
    merge_upsert(spark, out, upd, ["k"])
    got = {r.k: (r.s, r.v) for r in read_parquet(spark, out).collect()}
    assert got == {1: ("a", 10), 2: ("b2", 99), 3: ("c", 30), 4: ("d", 40)}
    merge_upsert(spark, out, upd, ["k"])  # idempotent re-apply
    again = {r.k: (r.s, r.v) for r in read_parquet(spark, out).collect()}
    assert again == got
    # layout: a commit log + immutable version dirs, nothing mutated at root
    assert os.path.isdir(os.path.join(out, "_commits"))
    assert os.path.isdir(os.path.join(out, "_versions"))
    assert not any(f.endswith(".parquet") for f in os.listdir(out))


def test_manifest_refuses_plain_parquet_root(spark, tmp_path):
    from steel_datafusion_spark.sources.readers import merge_upsert

    out = str(tmp_path / "plain")
    _mk(spark, [(1, "a", 10)]).write.parquet(out)
    with pytest.raises(ValueError, match="plain parquet table"):
        merge_upsert(spark, out, _mk(spark, [(1, "a2", 11)]), ["k"])
    # refused, not mutated: the plain table still reads as written
    assert [tuple(r) for r in spark.read.parquet(out).collect()] == \
        [(1, "a", 10)]


def test_manifest_partitioned_hardlinks_untouched_partitions(
        spark, tmp_path):
    from steel_datafusion_spark.sources.manifest import latest_commit
    from steel_datafusion_spark.sources.readers import (
        merge_upsert, read_parquet,
    )

    out = str(tmp_path / "ptbl")
    base = spark.createDataFrame(
        [(1, "a", 10, "p1"), (2, "b", 20, "p1"),
         (3, "c", 30, "p2"), (4, "d", 40, "p3")],
        "k long, s string, v long, p string")
    merge_upsert(spark, out, base, ["k"], partition_by=["p"])
    _v1, d1 = latest_commit(out)

    def inodes(d, rel):
        got = {}
        for dirpath, _, files in os.walk(os.path.join(d, rel)):
            for f in files:
                if not f.startswith(("_", ".")):
                    p = os.path.join(dirpath, f)
                    st = os.stat(p)
                    got[os.path.relpath(p, d)] = (st.st_ino, st.st_mtime_ns)
        return got

    before_p2, before_p3 = inodes(d1, "p=p2"), inodes(d1, "p=p3")
    assert before_p2 and before_p3

    upd = spark.createDataFrame(
        [(2, "b2", 99, "p1"), (5, "e", 50, "p4")],
        "k long, s string, v long, p string")
    merge_upsert(spark, out, upd, ["k"], partition_by=["p"])
    _v2, d2 = latest_commit(out)
    assert d2 != d1
    # untouched partitions carried by HARDLINK: same inode, same mtime —
    # byte identity for free and O(touched) write volume
    assert inodes(d2, "p=p2") == before_p2
    assert inodes(d2, "p=p3") == before_p3
    got = {r.k: (r.s, r.v, r.p) for r in read_parquet(spark, out).collect()}
    assert got == {1: ("a", 10, "p1"), 2: ("b2", 99, "p1"),
                   3: ("c", 30, "p2"), 4: ("d", 40, "p3"),
                   5: ("e", 50, "p4")}


def test_crash_before_commit_leaves_table_untouched(spark, tmp_path):
    from steel_datafusion_spark.sources.manifest import (
        latest_commit, new_version_dir, vacuum,
    )
    from steel_datafusion_spark.sources.readers import (
        merge_upsert, read_parquet,
    )

    out = str(tmp_path / "crash")
    merge_upsert(spark, out, _mk(spark, [(1, "a", 10)]), ["k"])
    v, d = latest_commit(out)
    # simulate a writer that wrote its data dir, then died before commit
    orphan = new_version_dir(out, v + 1)
    _mk(spark, [(1, "TORN", -1)]).write.mode("overwrite").parquet(orphan)
    # readers are oblivious: still the committed snapshot
    assert latest_commit(out) == (v, d)
    got = {r.k: (r.s, r.v) for r in read_parquet(spark, out).collect()}
    assert got == {1: ("a", 10)}
    # a FRESH future-version dir may be an in-progress writer between
    # new_version_dir and commit_version: default vacuum must keep it
    removed = vacuum(out, keep=2)
    assert removed == 0
    assert os.path.exists(orphan)
    # past the crash-retention age it is reclaimed
    removed = vacuum(out, keep=2, orphan_retention_s=0.0)
    assert removed >= 1
    assert not os.path.exists(orphan)


def test_vacuum_ages_lost_race_orphans(spark, tmp_path):
    """An uncommitted dir whose version number was committed by ANOTHER
    writer can never commit — but its WRITE may still be in flight (the
    loser cleans up after itself on CommitConflict), so vacuum reclaims
    it only past the retention age, measured by the NEWEST mtime in the
    tree (a long write keeps touching files long after the top dir's
    mtime)."""
    from steel_datafusion_spark.sources.manifest import (
        latest_commit, new_version_dir, vacuum,
    )
    from steel_datafusion_spark.sources.readers import merge_upsert

    out = str(tmp_path / "lostrace")
    merge_upsert(spark, out, _mk(spark, [(1, "a", 10)]), ["k"])
    merge_upsert(spark, out, _mk(spark, [(2, "b", 20)]), ["k"])
    v, _d = latest_commit(out)
    loser = new_version_dir(out, v)  # same number as the committed winner
    _mk(spark, [(9, "LOSER", -1)]).write.mode("overwrite").parquet(loser)
    assert vacuum(out, keep=2) == 0          # fresh: possibly mid-write
    assert os.path.exists(loser)
    # a stale TOP mtime alone must not age it while leaf files are fresh
    os.utime(loser, (0, 0))
    assert vacuum(out, keep=2) == 0
    assert os.path.exists(loser)
    assert vacuum(out, keep=2, orphan_retention_s=0.0) >= 1
    assert not os.path.exists(loser)


def test_checkpoint_pointer_resolves_without_listing(spark, tmp_path):
    """VERDICT r10 missing #2: with 100+ commits, latest_commit must
    resolve through _last_checkpoint (probe forward from the checkpointed
    version) instead of an O(|log|) directory listing, with table_history
    (full history) intact."""
    import json
    from unittest import mock

    from steel_datafusion_spark.sources.manifest import (
        CHECKPOINT_INTERVAL, commit_version, latest_commit,
        latest_commit_info, new_version_dir, table_history,
    )

    out = str(tmp_path / "ckpt")
    n = CHECKPOINT_INTERVAL * 10 + 3  # 103 commits, last checkpoint at 100
    for v in range(1, n + 1):
        d = new_version_dir(out, v)
        with open(os.path.join(d, "part-0.parquet"), "w") as fh:
            fh.write("x")
        commit_version(out, v, d, meta={"i": v})
    cdir = os.path.join(out, "_commits")
    assert os.path.exists(os.path.join(cdir, "_last_checkpoint"))
    with open(os.path.join(cdir, "_last_checkpoint")) as fh:
        assert json.load(fh)["version"] == CHECKPOINT_INTERVAL * 10
    # resolution must not list the commit log at all
    with mock.patch(
            "steel_datafusion_spark.sources.manifest.os.listdir",
            side_effect=AssertionError("listed the commit log")):
        info = latest_commit_info(out)
    assert info["version"] == n and info["meta"]["i"] == n
    # full history retained (no keep_log pruning happened)
    hist = table_history(spark, out)
    assert hist.count() == n
    # corrupt/stale pointer degrades to the listing path, never to a miss
    with open(os.path.join(cdir, "_last_checkpoint"), "w") as fh:
        fh.write("garbage")
    assert latest_commit(out)[0] == n


def test_checkpoint_survives_keep_log_pruning(spark, tmp_path):
    from steel_datafusion_spark.sources.manifest import (
        CHECKPOINT_INTERVAL, commit_version, latest_commit,
        new_version_dir, vacuum,
    )

    out = str(tmp_path / "ckpt2")
    n = CHECKPOINT_INTERVAL * 2 + 1
    for v in range(1, n + 1):
        d = new_version_dir(out, v)
        with open(os.path.join(d, "part-0.parquet"), "w") as fh:
            fh.write("x")
        commit_version(out, v, d)
    vacuum(out, keep=2, keep_log=2, orphan_retention_s=0.0)
    # pointer targets v20 whose commit file survived (cut keeps newest 2)
    assert latest_commit(out)[0] == n
    # keep_log also bounds checkpoint files, but NEVER the newest one
    # (the pointer's target)
    cdir = os.path.join(out, "_commits")
    ckpts = sorted(f for f in os.listdir(cdir)
                   if f.startswith("checkpoint-v"))
    assert ckpts == [f"checkpoint-v{CHECKPOINT_INTERVAL * 2:010d}.json"]


def test_manifest_merge_clauses_and_idempotence(spark, tmp_path):
    """Conditional MERGE (VERDICT r10 missing #3): delete checks first,
    then update, unmatched-target keeps, conditional insert — and
    re-applying the same changelog is a no-op."""
    from steel_datafusion_spark.sources.manifest import (
        manifest_merge, manifest_upsert, read_table,
    )

    out = str(tmp_path / "merge")
    manifest_upsert(spark, out, _mk(spark, [(1, "a", 10), (2, "b", 20),
                                            (3, "c", 30), (4, "d", 40)]),
                    ["k"])
    src = spark.createDataFrame(
        [(2, "B2", 99, "update"), (3, None, None, "delete"),
         (4, "d", 40, "unchanged"), (5, "e", 50, "insert"),
         (9, None, None, "delete")],  # delete of an absent key: no-op
        "k long, s string, v long, change_type string")
    v = manifest_merge(
        spark, out, src, ["k"],
        when_matched_update="src.change_type = 'update'",
        when_matched_delete="src.change_type = 'delete'",
        when_not_matched_insert="src.change_type = 'insert'")
    want = {1: ("a", 10), 2: ("B2", 99), 4: ("d", 40), 5: ("e", 50)}
    got = {r.k: (r.s, r.v) for r in read_table(spark, out).collect()}
    assert got == want
    # idempotent: the replayed changelog changes nothing
    v2 = manifest_merge(
        spark, out, src, ["k"],
        when_matched_update="src.change_type = 'update'",
        when_matched_delete="src.change_type = 'delete'",
        when_not_matched_insert="src.change_type = 'insert'")
    assert v2 == v + 1
    got2 = {r.k: (r.s, r.v) for r in read_table(spark, out).collect()}
    assert got2 == want


def test_manifest_merge_value_conditions_and_guards(spark, tmp_path):
    from steel_datafusion_spark.sources.manifest import (
        manifest_merge, manifest_upsert, read_table,
    )

    out = str(tmp_path / "merge2")
    manifest_upsert(spark, out, _mk(spark, [(1, "a", 10), (2, "b", 20)]),
                    ["k"])
    # upsert-if-newer: update only when the source value is larger
    src = _mk(spark, [(1, "a9", 9), (2, "b21", 21), (3, "c", 30)])
    manifest_merge(spark, out, src, ["k"],
                   when_matched_update="src.v > tgt.v")
    got = {r.k: (r.s, r.v) for r in read_table(spark, out).collect()}
    assert got == {1: ("a", 10), 2: ("b21", 21), 3: ("c", 30)}
    # missing key columns raise
    with pytest.raises(ValueError, match="key columns"):
        manifest_merge(spark, out, src.drop("k"), ["k"])
    # source lacking table columns can't build written rows
    with pytest.raises(ValueError, match="lacks table columns"):
        manifest_merge(spark, out, src.select("k", "v"), ["k"])
    # delete-only merge works with a keys+condition-only source
    manifest_merge(spark, out, src.select("k", "v"), ["k"],
                   when_matched_update=None,
                   when_not_matched_insert=None,
                   when_matched_delete="src.v < 15")
    got = {r.k: (r.s, r.v) for r in read_table(spark, out).collect()}
    assert got == {2: ("b21", 21), 3: ("c", 30)}


def test_compact_table_zorder_clusters_rewritten_files(spark, tmp_path):
    """OPTIMIZE ZORDER BY: the compacted rewrite range-clusters on the
    Morton key, so (for a single clustered column) the output files carry
    NON-OVERLAPPING min/max on that column — the data-skipping layout —
    while row content is identical to the fragmented table."""
    from pyspark.sql import functions as F

    from steel_datafusion_spark.sources.manifest import (
        compact_table, latest_commit_info, manifest_upsert, read_table,
    )

    out = str(tmp_path / "zopt")
    df = spark.range(2000).select(
        F.col("id").alias("k"),
        (F.col("id") * 37 % 1000).cast("double").alias("v"))
    # fragment: 16 hash-scattered files, each spanning ~the full v range
    manifest_upsert(spark, out, df.repartition(16), ["k"])
    v = compact_table(spark, out, target_bytes=16 * 1024,
                      zorder_by=["v"])
    info = latest_commit_info(out)
    assert info["version"] == v and info["meta"]["zorder_by"] == ["v"]
    t = read_table(spark, out)
    assert t.count() == 2000
    assert t.agg(F.sum("k")).head()[0] == sum(range(2000))
    spans = (t.withColumn("f", F.input_file_name())
             .groupBy("f").agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
             .orderBy("lo").collect())
    assert len(spans) >= 2, "compaction should still leave several files"
    for a, b in zip(spans, spans[1:]):
        assert a.hi <= b.lo, f"overlapping v-ranges: {a} vs {b}"


def test_commit_conflict_retries_on_winners_table(spark, tmp_path):
    from steel_datafusion_spark.sources.manifest import (
        CommitConflict, commit_version, latest_commit, new_version_dir,
    )
    from steel_datafusion_spark.sources.readers import (
        merge_upsert, read_parquet,
    )

    out = str(tmp_path / "race")
    merge_upsert(spark, out, _mk(spark, [(1, "a", 10), (2, "b", 20)]),
                 ["k"])
    v, _ = latest_commit(out)
    # a rival writer claims version v+1 first
    rival_dir = new_version_dir(out, v + 1)
    _mk(spark, [(1, "rival", 77), (2, "b", 20)]).write \
        .mode("overwrite").parquet(rival_dir)
    commit_version(out, v + 1, rival_dir)
    # direct double-claim raises
    with pytest.raises(CommitConflict):
        commit_version(out, v + 1, rival_dir)
    # the rival's commit is already the newest when our upsert reads its
    # base, so the upsert merges on the rival's table and lands at v+2
    # with BOTH writers' effects (a claim lost mid-write is covered by
    # test_lost_commit_race_retries_on_winners_version)
    merge_upsert(spark, out, _mk(spark, [(2, "mine", 99)]), ["k"])
    v2, _ = latest_commit(out)
    assert v2 == v + 2
    got = {r.k: (r.s, r.v) for r in read_parquet(spark, out).collect()}
    assert got == {1: ("rival", 77), 2: ("mine", 99)}


def _write_rows(path, rows):
    """One parquet file of (k long, s string, v long) rows, via pyarrow."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    k, s, v = zip(*rows)
    pq.write_table(pa.table({"k": pa.array(k, pa.int64()),
                             "s": pa.array(s, pa.string()),
                             "v": pa.array(v, pa.int64())}), path)


def _seed_files(root, files):
    """Version 1 of a manifest table holding one data file per row list,
    so a compaction has several small files to merge."""
    from steel_datafusion_spark.sources.manifest import (
        commit_version, new_version_dir,
    )

    d = new_version_dir(root, 1)
    for i, rows in enumerate(files):
        _write_rows(os.path.join(d, f"part-{i}.parquet"), rows)
    commit_version(root, 1, d)


def _race_upsert(spark, root, tmp_path):
    from steel_datafusion_spark.sources.manifest import manifest_upsert

    manifest_upsert(spark, root, _mk(spark, [(2, "mine", 99)]), ["k"])
    return {2: ("mine", 99)}


def _race_delete(spark, root, tmp_path):
    from steel_datafusion_spark.sources.manifest import manifest_delete

    manifest_delete(spark, root, spark.createDataFrame([(2,)], "k long"),
                    ["k"])
    return {2: None}


def _race_merge(spark, root, tmp_path):
    from steel_datafusion_spark.sources.manifest import manifest_merge

    manifest_merge(spark, root, _mk(spark, [(3, "merged", 98)]), ["k"])
    return {3: ("merged", 98)}


def _race_compact(spark, root, tmp_path):
    from steel_datafusion_spark.sources.manifest import (
        _iter_data_files, compact_table, latest_commit_info,
    )

    compact_table(spark, root, target_bytes=1 << 20)
    info = latest_commit_info(root)
    # the retry compacts the winner's table: 3 seed files + the rival's
    assert info["meta"]["compacted_files"] == 4
    assert len(list(_iter_data_files(info["data_dir"]))) == 1
    return {}


def _race_alter(spark, root, tmp_path):
    from steel_datafusion_spark.sources.manifest import (
        alter_table_constraints, latest_commit_info,
    )

    alter_table_constraints(spark, root, add={"v_pos": "v > 0"})
    assert latest_commit_info(root)["meta"]["constraints"] == \
        {"v_pos": "v > 0"}
    return {}


def _race_stream_append(spark, root, tmp_path):
    from steel_datafusion_spark.streaming.operators import (
        streaming_append_table,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_rows(os.path.join(src, "part-0.parquet"), [(4, "stream", 40)])
    streaming_append_table(spark, src, _mk(spark, []).schema, root,
                           str(tmp_path / "work"))
    return {4: ("stream", 40)}


@pytest.mark.parametrize("writer", [
    _race_upsert, _race_delete, _race_merge, _race_compact, _race_alter,
    _race_stream_append], ids=lambda f: f.__name__[len("_race_"):])
def test_lost_commit_race_retries_on_winners_version(spark, tmp_path,
                                                     monkeypatch, writer):
    """Every writer loses its first claim to a rival that commits between
    the writer's base read and its claim: the writer removes its data
    dir, reruns on the winner's version and commits exactly one version
    on top, with both writers' effects visible."""
    from steel_datafusion_spark.sources import manifest
    from steel_datafusion_spark.sources.manifest import (
        _link_tree, latest_commit, latest_commit_info, new_version_dir,
        read_table,
    )

    root = str(tmp_path / "tbl")
    _seed_files(root, [[(1, "a", 10)], [(2, "b", 20)], [(3, "c", 30)]])
    real_commit = manifest.commit_version
    claims = []

    def racing_commit(root_, version, data_dir, meta=None):
        if not claims:  # the rival wins this version number
            info = latest_commit_info(root_)
            rival = new_version_dir(root_, info["version"] + 1)
            _link_tree(info["data_dir"], rival, ())
            _write_rows(os.path.join(rival, "rival.parquet"),
                        [(9, "rival", 9)])
            real_commit(root_, info["version"] + 1, rival,
                        meta=info["meta"])
        claims.append(version)
        return real_commit(root_, version, data_dir, meta=meta)

    monkeypatch.setattr(manifest, "commit_version", racing_commit)
    effect = writer(spark, root, tmp_path)

    assert claims == [2, 3]  # lost version 2, retried on the winner's
    assert latest_commit(root)[0] == 3
    want = {1: ("a", 10), 2: ("b", 20), 3: ("c", 30), 9: ("rival", 9)}
    want.update(effect)
    want = {k: sv for k, sv in want.items() if sv is not None}
    got = {r.k: (r.s, r.v) for r in read_table(spark, root).collect()}
    assert got == want
    commits = [f for f in os.listdir(os.path.join(root, "_commits"))
               if f.startswith("v") and f.endswith(".json")]
    assert len(commits) == 3
    committed = set()
    for f in commits:
        with open(os.path.join(root, "_commits", f)) as fh:
            committed.add(os.path.basename(json.load(fh)["data_dir"]))
    assert set(os.listdir(os.path.join(root, "_versions"))) <= committed


def test_compact_skips_hidden_dirs(spark, tmp_path):
    """A hidden dot-dir inside the base version (a crashed tool's
    scratch) is neither compacted, carried into the new version nor
    counted."""
    from steel_datafusion_spark.sources.manifest import (
        compact_table, latest_commit_info, read_table,
    )

    root = str(tmp_path / "tbl")
    _seed_files(root, [[(1, "a", 10)], [(2, "b", 20)]])
    scratch = os.path.join(latest_commit_info(root)["data_dir"],
                           ".prune-x")
    os.makedirs(scratch)
    _write_rows(os.path.join(scratch, "a.parquet"), [(7, "x", 7)])
    _write_rows(os.path.join(scratch, "b.parquet"), [(8, "y", 8)])

    assert compact_table(spark, root, target_bytes=1 << 20) == 2
    info = latest_commit_info(root)
    assert info["meta"]["compacted_files"] == 2
    assert not [f for f in os.listdir(info["data_dir"])
                if f.startswith(".prune")]
    assert sorted(r.k for r in read_table(spark, root).collect()) == [1, 2]


def test_view_commits_carry_registrations(spark, tmp_path):
    """A stats backfill and a CHECK constraint on a streaming view's root
    survive the view's next micro-batch commit."""
    from steel_datafusion_spark.sources.manifest import (
        alter_table_constraints, table_detail, write_table_stats,
    )
    from steel_datafusion_spark.streaming.operators import (
        streaming_view_maintenance,
    )

    src = str(tmp_path / "src")
    work = str(tmp_path / "work")
    view = os.path.join(work, "view")
    df = spark.createDataFrame([(i % 3, float(i)) for i in range(30)],
                               "k int, v double")
    df.coalesce(1).write.parquet(src)
    streaming_view_maintenance(spark, src, df.schema, ["k"], "v", work)
    write_table_stats(view, ["k"])
    alter_table_constraints(spark, view, add={"n_pos": "n > 0"})
    df.coalesce(1).write.mode("append").parquet(src)  # the next batch
    got = streaming_view_maintenance(spark, src, df.schema, ["k"], "v",
                                     work)
    assert {r.k: r.n for r in got.collect()} == {0: 20, 1: 20, 2: 20}
    d = table_detail(spark, view).head()
    assert d.stats_cols == ["k"]
    assert json.loads(d.constraints) == {"n_pos": "n > 0"}


def test_concurrent_reader_never_sees_torn_table(spark, tmp_path):
    """The headline guarantee: a reader looping during a stream of
    upserts sees, on every single read, exactly one complete committed
    snapshot — all 4 keys present once, and the version counter embedded
    in the values consistent across the whole table (a torn read would
    mix versions or lose keys)."""
    from steel_datafusion_spark.sources.manifest import manifest_upsert
    from steel_datafusion_spark.sources.readers import read_parquet

    out = str(tmp_path / "cc")
    keys = [1, 2, 3, 4]

    def table_at(ver):
        return _mk(spark, [(k, f"s{ver}", ver) for k in keys])

    manifest_upsert(spark, out, table_at(0), ["k"], keep_versions=1000)

    stop = threading.Event()
    bad: list[str] = []
    reads = [0]

    def reader():
        while not stop.is_set():
            rows = read_parquet(spark, out).collect()
            reads[0] += 1
            ks = sorted(r.k for r in rows)
            vs = {r.v for r in rows}
            ss = {r.s for r in rows}
            if ks != keys or len(vs) != 1 or ss != {f"s{vs.pop()}"}:
                bad.append(f"torn snapshot: {rows}")
                return

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    try:
        for ver in range(1, 6):
            manifest_upsert(spark, out, table_at(ver), ["k"],
                            keep_versions=1000)
    finally:
        stop.set()
        t.join(timeout=60)
    assert not bad, bad
    assert reads[0] >= 2  # the reader really raced the writers


def test_vacuum_retention_and_commit_meta(spark, tmp_path):
    from steel_datafusion_spark.sources.manifest import (
        commit_version, latest_commit_info, manifest_upsert, vacuum,
    )

    out = str(tmp_path / "vac")
    for ver in range(4):
        manifest_upsert(
            spark, out, _mk(spark, [(1, f"s{ver}", ver)]), ["k"],
            keep_versions=1000)
    versions_dir = os.path.join(out, "_versions")
    assert len(os.listdir(versions_dir)) == 4
    removed = vacuum(out, keep=2)
    assert removed == 2
    left = sorted(os.listdir(versions_dir))
    assert len(left) == 2
    info = latest_commit_info(out)
    assert info["version"] == 4
    assert os.path.basename(info["data_dir"]) in left
    # commit files all survive (audit trail)
    assert len(os.listdir(os.path.join(out, "_commits"))) == 4
    # meta payload roundtrip
    d = os.path.join(out, "_versions", "manual")
    os.makedirs(d)
    with open(os.path.join(d, "x.parquet"), "wb") as fh:
        fh.write(b"")
    commit_version(out, 5, d, meta={"batch_id": 17})
    assert latest_commit_info(out)["meta"] == {"batch_id": 17}


def test_time_travel_reads_any_retained_version(spark, tmp_path):
    from steel_datafusion_spark.sources.manifest import (
        manifest_upsert, read_table, vacuum,
    )

    out = str(tmp_path / "tt")
    for ver in range(3):
        manifest_upsert(spark, out, _mk(spark, [(1, f"s{ver}", ver)]),
                        ["k"], keep_versions=1000)
    for ver in (1, 2, 3):
        got = read_table(spark, out, version=ver).collect()
        assert got[0].s == f"s{ver - 1}"
    assert read_table(spark, out).collect()[0].s == "s2"
    with pytest.raises(FileNotFoundError, match="never committed"):
        read_table(spark, out, version=99)
    vacuum(out, keep=1)
    with pytest.raises(FileNotFoundError, match="retention"):
        read_table(spark, out, version=1)
    # newest still reads after vacuum
    assert read_table(spark, out, version=3).collect()[0].s == "s2"


def test_manifest_delete_table_and_partitioned(spark, tmp_path):
    from steel_datafusion_spark.sources.manifest import (
        manifest_delete, manifest_upsert,
    )
    from steel_datafusion_spark.sources.readers import read_parquet

    out = str(tmp_path / "del")
    manifest_upsert(spark, out, _mk(spark, [(1, "a", 10), (2, "b", 20),
                                            (3, "c", 30)]), ["k"])
    v = manifest_delete(spark, out,
                        spark.createDataFrame([(2,)], "k long"), ["k"])
    assert v == 2
    got = {r.k for r in read_parquet(spark, out).collect()}
    assert got == {1, 3}

    pout = str(tmp_path / "pdel")
    base = spark.createDataFrame(
        [(1, 10, "p1"), (2, 20, "p1"), (3, 30, "p2"), (4, 40, "p3")],
        "k long, v long, p string")
    manifest_upsert(spark, pout, base, ["k"], partition_by=["p"])
    # partition-granular delete requires partition cols on the keys frame
    with pytest.raises(ValueError, match="partition columns"):
        manifest_delete(spark, pout,
                        spark.createDataFrame([(2,)], "k long"),
                        ["k"], partition_by=["p"])
    manifest_delete(spark, pout,
                    spark.createDataFrame([(2, "p1")], "k long, p string"),
                    ["k"], partition_by=["p"])
    got = {r.k for r in read_parquet(spark, pout).collect()}
    assert got == {1, 3, 4}


def test_vacuum_keep_log_bounds_the_commit_log(spark, tmp_path):
    from steel_datafusion_spark.sources.manifest import (
        latest_commit, manifest_upsert, read_table, vacuum,
    )

    out = str(tmp_path / "log")
    for ver in range(6):
        manifest_upsert(spark, out, _mk(spark, [(1, f"s{ver}", ver)]),
                        ["k"], keep_versions=1000)
    cdir = os.path.join(out, "_commits")
    assert len(os.listdir(cdir)) == 6
    vacuum(out, keep=2, keep_log=3)
    left = sorted(os.listdir(cdir))
    assert len(left) == 3
    # newest commit always survives and still resolves
    assert latest_commit(out)[0] == 6
    assert read_table(spark, out).collect()[0].s == "s5"
    # keep_log can never prune below the data retention window
    vacuum(out, keep=2, keep_log=1)
    assert latest_commit(out)[0] == 6
    assert len(os.listdir(cdir)) >= 2


def test_table_history_and_schema_evolution(spark, tmp_path):
    from steel_datafusion_spark.sources.manifest import (
        manifest_upsert, read_table, table_history, vacuum,
    )

    out = str(tmp_path / "hist")
    manifest_upsert(spark, out, _mk(spark, [(1, "a", 10)]), ["k"],
                    keep_versions=1000)
    # evolve: the update batch adds a column; old rows null-backfill
    evolved = spark.createDataFrame([(2, "b", 20, "en")],
                                    "k long, s string, v long, lang string")
    manifest_upsert(spark, out, evolved, ["k"], keep_versions=1000,
                    schema_evolution=True)
    got = {r.k: (r.s, r.lang) for r in read_table(spark, out).collect()}
    assert got == {1: ("a", None), 2: ("b", "en")}
    # without the flag, a schema mismatch is a hard error, not silence
    with pytest.raises(Exception):
        manifest_upsert(spark, out, _mk(spark, [(3, "c", 30)]), ["k"],
                        keep_versions=1000)
    # evolution is table-granular only
    with pytest.raises(ValueError, match="partition"):
        manifest_upsert(spark, out, evolved, ["k"], partition_by=["lang"],
                        schema_evolution=True)
    # history reflects versions and availability after a vacuum
    vacuum(out, keep=1)
    hist = {r.version: r.available
            for r in table_history(spark, out).collect()}
    assert hist == {1: False, 2: True}


def test_compact_table_reduces_files_keeps_rows_links_big(spark, tmp_path):
    from steel_datafusion_spark.sources.manifest import (
        compact_table, latest_commit, latest_commit_info, manifest_upsert,
    )
    from steel_datafusion_spark.sources.readers import read_parquet

    out = str(tmp_path / "opt")
    rows = [(i, f"s{i}", i * 10, ("p1", "p2")[i % 2]) for i in range(40)]
    df = spark.createDataFrame(rows, "k long, s string, v long, p string")
    # fragment: 8 files per partition
    manifest_upsert(spark, out,
                    df.repartition(8), ["k"], partition_by=["p"])
    _v1, d1 = latest_commit(out)

    def parts(d):
        got = {}
        for dirpath, _, files in os.walk(d):
            for f in files:
                if not f.startswith(("_", ".")):
                    rel = os.path.relpath(os.path.join(dirpath, f), d)
                    got[rel] = os.stat(os.path.join(dirpath, f)).st_ino
        return got

    before = parts(d1)
    assert len(before) > 4
    v = compact_table(spark, out, target_bytes=64 * 1024 * 1024)
    assert v == 2
    _v2, d2 = latest_commit(out)
    after = parts(d2)
    # one output file per partition dir now
    dirs = {os.path.dirname(r) for r in after}
    assert len(after) == len(dirs)
    assert len(after) < len(before)
    # rows byte-stable through the rewrite, partition identity preserved
    got = {(r.k, r.s, r.v, r.p) for r in read_parquet(spark, out).collect()}
    assert got == set(rows)
    assert latest_commit_info(out)["meta"]["compacted_files"] == len(before)
    # idempotent: nothing left to compact
    assert compact_table(spark, out, target_bytes=64 * 1024 * 1024) == 2


def test_table_changes_between_versions(spark, tmp_path):
    from steel_datafusion_spark.sources.manifest import (
        manifest_delete, manifest_upsert, table_changes,
    )

    out = str(tmp_path / "chg")
    manifest_upsert(spark, out, _mk(spark, [(1, "a", 10), (2, "b", 20),
                                            (3, "c", 30)]), ["k"],
                    keep_versions=1000)
    manifest_upsert(spark, out, _mk(spark, [(2, "b2", 99), (4, "d", 40)]),
                    ["k"], keep_versions=1000)
    manifest_delete(spark, out, spark.createDataFrame([(1,)], "k long"),
                    ["k"], keep_versions=1000)
    got = {r.k: r.change_type
           for r in table_changes(spark, out, ["k"], 1).collect()}
    assert got == {1: "delete", 2: "update", 3: "unchanged", 4: "insert"}
    mid = {r.k: r.change_type
           for r in table_changes(spark, out, ["k"], 1, 2).collect()}
    assert mid == {1: "unchanged", 2: "update", 3: "unchanged",
                   4: "insert"}


def _skip_df(spark, n=8000):
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).alias("grp"),
        (F.col("id").cast("double") * 1.5).alias("v"),
        F.concat(F.lit("s"), F.format_string("%05d", F.col("id")))
        .alias("s"))


def test_data_skipping_prunes_files_and_matches_full_scan(spark, tmp_path):
    """read_table(where=…) must open strictly fewer files on a
    range-clustered statted table AND return exactly the rows a full
    scan + filter returns — pruning is an accelerator, never a
    semantics change."""
    from pyspark.sql import functions as F

    from steel_datafusion_spark.sources.manifest import (
        latest_commit_info, manifest_upsert, read_table,
    )

    out = str(tmp_path / "skip")
    df = _skip_df(spark)
    manifest_upsert(spark, out, df.repartitionByRange(8, "k"), ["k"],
                    stats_cols=["k", "v", "s"])
    info = latest_commit_info(out)
    assert info["meta"]["stats_cols"] == ["k", "v", "s"]
    assert os.path.exists(os.path.join(info["data_dir"], "_stats.parquet"))
    pruned = read_table(spark, out, where=[("k", ">=", 2000),
                                           ("k", "<", 3000)])
    full = read_table(spark, out)
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    exp = sorted(r.k for r in full.filter(
        (F.col("k") >= 2000) & (F.col("k") < 3000)).collect())
    got = sorted(r.k for r in pruned.collect())
    assert got == exp
    # string point lookup prunes to one file and one row
    one = read_table(spark, out, where=[("s", "=", "s00042")])
    assert len(one.inputFiles()) == 1
    assert [r.k for r in one.collect()] == [42]
    # != prunes nothing here (every file has >1 distinct value) but stays
    # correct; > on the top of the range prunes everything
    ne = read_table(spark, out, where=[("k", "!=", 5)])
    assert ne.count() == df.count() - 1
    empty = read_table(spark, out, where=[("k", ">", 10 ** 9)])
    assert empty.count() == 0 and empty.columns == full.columns


def test_data_skipping_inherits_through_writers(spark, tmp_path):
    """stats_cols set once on the first upsert carries through plain
    upserts, deletes, merges and compaction — every later version keeps
    a fresh sidecar without re-passing the option."""
    from pyspark.sql import functions as F

    from steel_datafusion_spark.sources.manifest import (
        compact_table, latest_commit_info, manifest_delete,
        manifest_merge, manifest_upsert, read_table,
    )

    out = str(tmp_path / "inherit")
    df = _skip_df(spark, 4000)
    manifest_upsert(spark, out, df.repartitionByRange(6, "k"), ["k"],
                    stats_cols=["k"])
    upd = _skip_df(spark, 4100).filter(F.col("k") >= 4000)
    manifest_upsert(spark, out, upd, ["k"])
    assert latest_commit_info(out)["meta"]["stats_cols"] == ["k"]
    manifest_delete(spark, out,
                    spark.createDataFrame([(0,)], "k long"), ["k"])
    assert latest_commit_info(out)["meta"]["stats_cols"] == ["k"]
    src = (_skip_df(spark, 10).withColumn("v", F.col("v") + 1)
           .withColumn("change_type", F.lit("update")))
    manifest_merge(spark, out, src, ["k"],
                   when_matched_update="src.change_type = 'update'")
    assert latest_commit_info(out)["meta"]["stats_cols"] == ["k"]
    manifest_upsert(spark, out, upd.repartition(12), ["k"])
    v = compact_table(spark, out, target_bytes=256 * 1024 * 1024)
    meta = latest_commit_info(out)
    assert meta["version"] == v and meta["meta"]["stats_cols"] == ["k"]
    # the compacted version still prunes a point lookup
    full = read_table(spark, out)
    one = read_table(spark, out, where=[("k", "=", 4050)])
    if len(full.inputFiles()) > 1:
        assert len(one.inputFiles()) < len(full.inputFiles())
    assert one.count() == 1


def test_data_skipping_partition_paths_need_no_sidecar(spark, tmp_path):
    """Hive col=value path segments prune partition dirs even with no
    stats sidecar at all, and combine with the residual filter."""
    from pyspark.sql import functions as F

    from steel_datafusion_spark.sources.manifest import (
        manifest_upsert, read_table,
    )

    out = str(tmp_path / "parts")
    df = _skip_df(spark, 5000)
    manifest_upsert(spark, out, df, ["k"], partition_by=["grp"])
    t = read_table(spark, out, where=[("grp", "=", 3)])
    full = read_table(spark, out)
    assert 0 < len(t.inputFiles()) < len(full.inputFiles())
    assert t.count() == df.filter(F.col("grp") == 3).count()
    assert set(r.grp for r in t.select("grp").distinct().collect()) == {3}
    # range op over the (string-in-path, numeric-literal) domain
    lo = read_table(spark, out, where=[("grp", "<", 2)])
    assert lo.count() == df.filter(F.col("grp") < 2).count()


def test_data_skipping_nulls_and_degradation(spark, tmp_path):
    """All-null files prune under null-rejecting ops; files with SOME
    nulls never prune wrongly; an unstatted column, pre-parquet JSON
    sidecars, a corrupt sidecar and an unknown op all degrade safely."""
    import pytest
    from pyspark.sql import functions as F

    from steel_datafusion_spark.sources.manifest import (
        latest_commit_info, manifest_upsert, read_table,
    )

    out = str(tmp_path / "nulls")
    df = spark.range(200).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 100, None)
        .otherwise(F.col("id").cast("double")).alias("v"))
    # range-cluster on k so file 1 is all-null in v, file 2 has none
    manifest_upsert(spark, out, df.repartitionByRange(2, "k"), ["k"],
                    stats_cols=["k", "v"])
    t = read_table(spark, out, where=[("v", ">=", 0.0)])
    assert len(t.inputFiles()) == 1          # the all-null file pruned
    assert t.count() == 100
    # unstatted column: all files read, answer still right
    u = read_table(spark, out, where=[("k", ">=", 0), ("v", ">=", 150.0)])
    assert u.count() == 50
    # downgrade to the pre-parquet JSON layout: readers ignore it, so
    # stats keep both files, the answer is unchanged, and the read
    # warns that upgrade_table_stats restores pruning
    info = latest_commit_info(out)
    _downgrade_stats_to_legacy_json(info["data_dir"])
    with pytest.warns(UserWarning, match="upgrade_table_stats"):
        c = read_table(spark, out, where=[("v", ">=", 0.0)])
    assert c.count() == 100 and len(c.inputFiles()) == 2
    # same degradation for the current format: a corrupt _stats.parquet
    # disables pruning, never breaks the read
    out2 = str(tmp_path / "nulls2")
    manifest_upsert(spark, out2, df.repartitionByRange(2, "k"), ["k"],
                    stats_cols=["k", "v"])
    d2 = latest_commit_info(out2)["data_dir"]
    with open(os.path.join(d2, "_stats.parquet"), "w") as fh:
        fh.write("not parquet")
    c3 = read_table(spark, out2, where=[("v", ">=", 0.0)])
    assert c3.count() == 100 and len(c3.inputFiles()) == 2
    with pytest.raises(ValueError):
        read_table(spark, out, where=[("v", "LIKE", "x")])


def test_write_table_stats_backfills_committed_versions(spark, tmp_path):
    """A table committed without stats (e.g. streaming ingest) backfills
    via write_table_stats — pruning turns on for the current version and
    the column set inherits into the NEXT commit's meta."""
    from steel_datafusion_spark.sources.manifest import (
        latest_commit_info, manifest_upsert, read_table, write_table_stats,
    )

    out = str(tmp_path / "backfill")
    df = _skip_df(spark, 3000)
    manifest_upsert(spark, out, df.repartitionByRange(6, "k"), ["k"])
    assert "stats_cols" not in latest_commit_info(out)["meta"]
    n = write_table_stats(out, ["k"])
    assert n == 6
    t = read_table(spark, out, where=[("k", "<", 500)])
    assert len(t.inputFiles()) < 6 and t.count() == 500
    manifest_upsert(spark, out, _skip_df(spark, 3100), ["k"])
    assert latest_commit_info(out)["meta"]["stats_cols"] == ["k"]


def test_bloom_skipping_point_lookups(spark, tmp_path):
    """Per-file Bloom filters prune point lookups on a hash-scattered
    high-cardinality key where min/max stats cannot (every file spans
    the whole range); no false negatives by construction — build and
    probe hash the same canonical cast, so an int literal against a
    bigint column still finds its row."""
    from pyspark.sql import functions as F

    from steel_datafusion_spark.sources.manifest import (
        manifest_upsert, read_table, write_table_bloom,
    )

    out = str(tmp_path / "bloom")
    df = spark.range(8000).select(
        F.concat(F.lit("u-"), F.md5(F.col("id").cast("string")))
        .alias("uid"),
        F.col("id").alias("k"))
    manifest_upsert(spark, out, df.repartition(8, "uid"), ["uid"],
                    stats_cols=["uid"])
    target = df.filter(F.col("k") == 777).head().uid
    before = read_table(spark, out, where=[("uid", "=", target)])
    assert len(before.inputFiles()) == 8  # min/max stats can't prune
    assert write_table_bloom(spark, out, ["uid"], bits=1 << 15) == 8
    after = read_table(spark, out, where=[("uid", "=", target)])
    assert len(after.inputFiles()) < 8
    assert [r.k for r in after.collect()] == [777]
    # absent key: typically zero files opened, always zero rows
    absent = read_table(spark, out, where=[("uid", "=", "u-nope")])
    assert absent.count() == 0
    # type canonicalization: int and string literals against bigint both hit
    out2 = str(tmp_path / "bloom2")
    manifest_upsert(spark, out2, df.repartition(8, "k"), ["uid"])
    write_table_bloom(spark, out2, ["k"], bits=1 << 15)
    assert read_table(spark, out2, where=[("k", "=", 4321)]).count() == 1
    assert read_table(spark, out2, where=[("k", "=", "4321")]).count() == 1
    # no false negatives across a key sample
    for k in range(0, 8000, 1000):
        assert read_table(spark, out2, where=[("k", "=", k)]).count() == 1
    # non-equality ops never consult the bloom; results stay right
    assert read_table(spark, out2,
                      where=[("k", ">=", 7990)]).count() == 10


def test_timestamp_as_of_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF: read_table(as_of=…) resolves the newest version
    committed at that wall-clock instant (commit-stamped ts, file-mtime
    fallback), table_history exposes the instants, and the guards fire
    (before-first-commit, version+as_of together)."""
    import time as _time

    from steel_datafusion_spark.sources.manifest import (
        manifest_upsert, read_table, table_history,
    )

    out = str(tmp_path / "asof")
    t0 = _time.time()
    manifest_upsert(spark, out, _mk(spark, [(1, "a", 10)]), ["k"],
                    keep_versions=100)
    t1 = _time.time()
    _time.sleep(0.05)
    manifest_upsert(spark, out, _mk(spark, [(2, "b", 20)]), ["k"],
                    keep_versions=100)
    t2 = _time.time()
    assert {r.k for r in read_table(spark, out, as_of=t1).collect()} == {1}
    assert {r.k for r in read_table(spark, out, as_of=t2).collect()} == {1, 2}
    # datetime / ISO spellings of the same instant
    import datetime as _dt

    iso = _dt.datetime.fromtimestamp(t1).isoformat()
    assert {r.k for r in read_table(spark, out, as_of=iso).collect()} == {1}
    hist = {r.version: r.ts for r in table_history(spark, out).collect()}
    assert hist[1] <= hist[2] and t0 <= hist[1] <= t2
    with pytest.raises(FileNotFoundError):
        read_table(spark, out, as_of=t0 - 10)
    with pytest.raises(ValueError):
        read_table(spark, out, version=1, as_of=t1)


def test_check_constraints_enforced_and_inherited(spark, tmp_path):
    """Delta-style CHECK constraints: registered once as a metadata-only
    hardlink commit, verified against the current snapshot at ADD time,
    carried by every writer, enforced on what each write would commit
    (violating writes raise BEFORE any commit; the table is unchanged),
    SQL-standard NULL-passes semantics, droppable."""
    from steel_datafusion_spark.sources.manifest import (
        alter_table_constraints, latest_commit_info, manifest_merge,
        manifest_upsert, read_table,
    )

    out = str(tmp_path / "cons")
    manifest_upsert(spark, out, _mk(spark, [(1, "a", 10), (2, "b", 20)]),
                    ["k"])
    v = alter_table_constraints(spark, out, add={"v_pos": "v > 0"})
    info = latest_commit_info(out)
    assert info["version"] == v
    assert info["meta"]["constraints"] == {"v_pos": "v > 0"}
    # blessing an invalid table is refused
    with pytest.raises(ValueError, match="v_small"):
        alter_table_constraints(spark, out, add={"v_small": "v < 15"})
    # violating upsert raises and commits nothing
    with pytest.raises(ValueError, match="v_pos"):
        manifest_upsert(spark, out, _mk(spark, [(3, "c", -1)]), ["k"])
    assert latest_commit_info(out)["version"] == v
    assert {r.k for r in read_table(spark, out).collect()} == {1, 2}
    # valid upsert passes and RE-carries the registration
    manifest_upsert(spark, out, _mk(spark, [(3, "c", 30)]), ["k"])
    assert latest_commit_info(out)["meta"]["constraints"] == \
        {"v_pos": "v > 0"}
    # merge enforcement: an update that would write v<=0 raises pre-commit
    bad_src = spark.createDataFrame([(1, "a", -5, "update")],
                                    "k long, s string, v long, "
                                    "change_type string")
    vb = latest_commit_info(out)["version"]
    with pytest.raises(ValueError, match="v_pos"):
        manifest_merge(spark, out, bad_src, ["k"],
                       when_matched_update="src.change_type = 'update'")
    assert latest_commit_info(out)["version"] == vb
    # NULL passes (SQL standard) — add explicit IS NOT NULL to forbid
    manifest_upsert(spark, out, _mk(spark, [(4, "d", None)]), ["k"])
    # drop: violating writes pass again
    alter_table_constraints(spark, out, drop=["v_pos"])
    manifest_upsert(spark, out, _mk(spark, [(5, "e", -9)]), ["k"])
    got = {r.k: r.v for r in read_table(spark, out).collect()}
    assert got == {1: 10, 2: 20, 3: 30, 4: None, 5: -9}


def test_check_constraints_guard_streaming_appends(spark, tmp_path):
    """A constraint registered on a streaming-ingested table rejects a
    violating micro-batch (the stream errors; the table keeps only clean
    prefixes) and rides along in every batch commit's meta."""
    from pyspark.sql import functions as F

    from steel_datafusion_spark.sources.manifest import (
        alter_table_constraints, latest_commit_info,
    )
    from steel_datafusion_spark.streaming.operators import (
        streaming_append_table,
    )

    src = str(tmp_path / "src")
    table = str(tmp_path / "tbl")
    work = str(tmp_path / "work")
    good = spark.range(10).select(F.col("id").alias("k"),
                                  (F.col("id") + 1).alias("v"))
    good.coalesce(1).write.mode("overwrite").parquet(src)
    streaming_append_table(spark, src, good.schema, table, work,
                           max_files_per_trigger=1)
    alter_table_constraints(spark, table, add={"v_pos": "v > 0"})
    assert latest_commit_info(table)["meta"]["constraints"]
    # second source file violates → the stream fails, no commit lands
    bad = spark.range(5).select(F.col("id").alias("k"),
                                (F.col("id") - 99).alias("v"))
    bad.coalesce(1).write.mode("append").parquet(src)
    v_before = latest_commit_info(table)["version"]
    with pytest.raises(Exception, match="v_pos|CHECK"):
        streaming_append_table(spark, src, good.schema, table, work,
                               max_files_per_trigger=1)
    assert latest_commit_info(table)["version"] == v_before


def test_where_in_prunes_and_matches(spark, tmp_path):
    """The 'in' operator prunes through range stats, partition paths and
    blooms (a file survives if ANY listed value may be present) and the
    residual isin keeps results exact."""
    from pyspark.sql import functions as F

    from steel_datafusion_spark.sources.manifest import (
        manifest_upsert, read_table, write_table_bloom,
    )

    out = str(tmp_path / "inop")
    df = _skip_df(spark, 6000)
    manifest_upsert(spark, out, df.repartitionByRange(6, "k"), ["k"],
                    stats_cols=["k"])
    t = read_table(spark, out, where=[("k", "in", [10, 5500])])
    assert len(t.inputFiles()) == 2  # one file per range bucket hit
    assert sorted(r.k for r in t.collect()) == [10, 5500]
    # bloom + in on a hash-scattered key
    out2 = str(tmp_path / "inop2")
    manifest_upsert(spark, out2, df.repartition(8, "s"), ["k"])
    write_table_bloom(spark, out2, ["s"], bits=1 << 15)
    uids = [r.s for r in df.filter(F.col("k").isin(7, 4242)).collect()]
    t2 = read_table(spark, out2, where=[("s", "in", uids)])
    assert len(t2.inputFiles()) <= 2
    assert sorted(r.k for r in t2.collect()) == [7, 4242]
    # partition-path in
    out3 = str(tmp_path / "inop3")
    manifest_upsert(spark, out3, df, ["k"], partition_by=["grp"])
    t3 = read_table(spark, out3, where=[("grp", "in", [1, 4])])
    assert set(r.grp for r in t3.select("grp").distinct().collect()) == \
        {1, 4}
    with pytest.raises(ValueError, match="'in' takes"):
        read_table(spark, out, where=[("k", "in", 10)])


def test_table_detail_summarizes_current_snapshot(spark, tmp_path):
    """DESCRIBE DETAIL: version/instant, footer-derived file/byte/row
    counts, and every registration (stats, bloom, constraints, zorder)
    in one row — metadata walk only."""
    import json as _json

    from steel_datafusion_spark.sources.manifest import (
        alter_table_constraints, compact_table, manifest_upsert,
        read_table, table_detail, write_table_bloom,
    )

    out = str(tmp_path / "detail")
    df = _skip_df(spark, 3000)
    manifest_upsert(spark, out, df.repartition(12), ["k"],
                    stats_cols=["k"])
    alter_table_constraints(spark, out, add={"k_nonneg": "k >= 0"})
    compact_table(spark, out, target_bytes=64 * 1024 * 1024,
                  zorder_by=["v"])
    write_table_bloom(spark, out, ["s"])
    d = table_detail(spark, out).head()
    assert d.num_rows == 3000
    assert d.num_files == len(read_table(spark, out).inputFiles())
    assert d.size_bytes > 0 and d.ts > 0
    assert d.stats_cols == ["k"] and d.bloom_cols == ["s"]
    assert _json.loads(d.constraints) == {"k_nonneg": "k >= 0"}
    assert d.zorder_by == ["v"]


def test_stats_carry_forward_and_streaming_maintenance(spark, tmp_path):
    """Hardlinked files carry their sidecar entries by relpath (proved
    by poisoning the base entry and watching it propagate — recomputation
    would heal it), and a statted table stays statted under streaming
    ingest with a per-batch incremental sidecar."""
    import json as _json

    from pyspark.sql import functions as F

    from steel_datafusion_spark.sources.manifest import (
        latest_commit, latest_commit_info, manifest_upsert, read_table,
    )
    from steel_datafusion_spark.streaming.operators import (
        streaming_append_table,
    )

    out = str(tmp_path / "carry")
    df = spark.range(400).select(F.col("id").alias("k"),
                                 (F.col("id") % 4).alias("p"),
                                 (F.col("id") + 1.0).alias("v"))
    manifest_upsert(spark, out, df, ["k"], partition_by=["p"],
                    stats_cols=["v"], keep_versions=10)
    import pyarrow.parquet as _pq

    from steel_datafusion_spark.sources.filestats import (
        stats_parquet_path,
    )

    _v1, d1 = latest_commit(out)
    s1 = _pq.read_table(stats_parquet_path(d1))
    meta1 = s1.schema.metadata
    rows1 = s1.to_pylist()
    victim = next(r["rel"] for r in rows1 if r["rel"].startswith("p=3"))
    for r in rows1:
        if r["rel"] == victim:
            r["rows"] = 999999  # poison an untouched entry
    import pyarrow as _pa

    poisoned = _pa.Table.from_pylist(rows1, schema=s1.schema) \
        .replace_schema_metadata(meta1)
    _pq.write_table(poisoned, stats_parquet_path(d1))
    upd = df.filter(F.col("p") == 1).withColumn("v", F.col("v") + 100)
    manifest_upsert(spark, out, upd, ["k"], partition_by=["p"],
                    keep_versions=10)
    _v2, d2 = latest_commit(out)
    s2 = {r["rel"]: r for r in
          _pq.read_table(stats_parquet_path(d2)).to_pylist()}
    assert s2[victim]["rows"] == 999999  # carried, not recomputed
    assert any(rel.startswith("p=1") and r["rows"] != 999999
               for rel, r in s2.items())  # touched partition re-statted
    # streaming ingest maintains the sidecar per batch
    src = str(tmp_path / "ssrc")
    tbl = str(tmp_path / "stbl")
    batch = spark.range(1000).select(F.col("id").alias("k"),
                                     (F.col("id") * 2.0).alias("v"))
    # two source files with disjoint k ranges at any core count (one
    # micro-batch each), so the pruned read below can skip one of them
    batch.repartitionByRange(2, "k").write.mode("overwrite").parquet(src)
    assert len([f for f in os.listdir(src) if f.endswith(".parquet")]) == 2
    manifest_upsert(spark, tbl, batch.limit(0), ["k"], stats_cols=["k"])
    streaming_append_table(spark, src, batch.schema, tbl,
                           str(tmp_path / "swork"),
                           max_files_per_trigger=1)
    info = latest_commit_info(tbl)
    assert info["meta"]["stats_cols"] == ["k"]
    assert os.path.exists(os.path.join(info["data_dir"],
                                       "_stats.parquet"))
    t = read_table(spark, tbl, where=[("k", "<", 100)])
    assert t.count() == 100
    assert len(t.inputFiles()) < len(read_table(spark, tbl).inputFiles())


def test_where_null_ops_prune_by_null_counts(spark, tmp_path):
    """isnull prunes provably-null-free files; isnotnull prunes provably
    all-null files; both stay exact through the residual filter and
    match Hive null partitions."""
    from pyspark.sql import functions as F

    from steel_datafusion_spark.sources.manifest import (
        manifest_upsert, read_table,
    )

    out = str(tmp_path / "nullops")
    df = spark.range(200).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 100, None)
        .otherwise(F.col("id").cast("double")).alias("v"))
    manifest_upsert(spark, out, df.repartitionByRange(2, "k"), ["k"],
                    stats_cols=["k", "v"])
    nn = read_table(spark, out, where=[("v", "isnotnull", None)])
    assert len(nn.inputFiles()) == 1 and nn.count() == 100
    nu = read_table(spark, out, where=[("v", "isnull", None)])
    assert len(nu.inputFiles()) == 1 and nu.count() == 100
    # Hive null partitions prune by path
    out2 = str(tmp_path / "nullparts")
    p = spark.range(60).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 3 == 0, None)
        .otherwise((F.col("id") % 3).cast("string")).alias("g"))
    manifest_upsert(spark, out2, p, ["k"], partition_by=["g"])
    pn = read_table(spark, out2, where=[("g", "isnull", None)])
    assert pn.count() == 20
    assert all("__HIVE_DEFAULT_PARTITION__" in f for f in pn.inputFiles())
    pv = read_table(spark, out2, where=[("g", "isnotnull", None)])
    assert pv.count() == 40
    assert all("__HIVE_DEFAULT_PARTITION__" not in f
               for f in pv.inputFiles())


def test_pruning_exactness_guards(spark, tmp_path):
    """Regressions for pruning-must-never-guess: int64 comparisons stay
    exact past 2^53 (no float coercion), string literals against numeric
    partition paths match Spark's cast semantics or abstain, absent
    columns stat as UNKNOWN (not null-free), and registering a
    constraint never vacuums retention away."""
    import json as _json

    from steel_datafusion_spark.sources.manifest import (
        alter_table_constraints, manifest_upsert, read_table,
    )

    big = 2 ** 53
    out = str(tmp_path / "exact")
    df = spark.createDataFrame([(big,), (big + 2,)], "k long")
    manifest_upsert(spark, out, df.repartitionByRange(2, "k"), ["k"],
                    stats_cols=["k"])
    # float(2^53) == float(2^53+1): a float-coerced bound would prune
    # the file holding k=2^53 out of `k < 2^53+1`
    t = read_table(spark, out, where=[("k", "<", big + 1)])
    assert [r.k for r in t.collect()] == [big]
    t2 = read_table(spark, out, where=[("k", "!=", big + 1)])
    assert sorted(r.k for r in t2.collect()) == [big, big + 2]

    # numeric partition dirs probed with string literals: Spark casts,
    # so "09" must reach dir b=9 and range ops must abstain
    pout = str(tmp_path / "pexact")
    p = spark.range(16).select((F.col("id") % 16).alias("b"),
                               F.col("id").alias("k"))
    manifest_upsert(spark, pout, p, ["k"], partition_by=["b"])
    t3 = read_table(spark, pout, where=[("b", "=", "09")])
    assert t3.count() == 1 and t3.head().b == 9
    full = read_table(spark, pout)
    exp = full.filter(F.col("b") < F.lit("10")).count()
    t4 = read_table(spark, pout, where=[("b", "<", "10")])
    assert t4.count() == exp

    # a requested column entirely absent from a file must stat as
    # UNKNOWN (ok=False, never prunable) — a null-free entry would let
    # isnull pruning lose the rows a mixed-schema read surfaces as NULL
    import pyarrow.parquet as _pq

    from steel_datafusion_spark.sources.filestats import (
        stats_parquet_path, write_stats_parquet,
    )

    d1 = str(tmp_path / "absent")
    spark.createDataFrame([(1,)], "k long").write.parquet(d1)
    write_stats_parquet(d1, ["nope"])
    stbl = _pq.read_table(stats_parquet_path(d1))
    assert not any(stbl.column("ok:nope").to_pylist())
    assert all(v is None for v in stbl.column("lo:nope").to_pylist())

    # metadata-only constraint registration keeps the writers' retention
    r2 = str(tmp_path / "keep")
    manifest_upsert(spark, r2, _mk(spark, [(1, "a", 1)]), ["k"],
                    keep_versions=10)
    manifest_upsert(spark, r2, _mk(spark, [(2, "b", 2)]), ["k"],
                    keep_versions=10)
    manifest_upsert(spark, r2, _mk(spark, [(3, "c", 3)]), ["k"],
                    keep_versions=10)
    alter_table_constraints(spark, r2, add={"v_pos": "v > 0"})
    assert read_table(spark, r2, version=1).count() == 1  # still retained


def test_partition_values_with_special_chars_roundtrip(spark, tmp_path):
    """_hive_part_path must escape EXACTLY like Spark's committer (Hive
    charset: space/comma/plus/parens/non-ASCII literal, ':'/'%'/... hex)
    — a mismatch would hardlink the OLD partition next to the rewritten
    one, duplicating every updated row."""
    from steel_datafusion_spark.sources.manifest import (
        manifest_delete, manifest_upsert, read_table,
    )

    out = str(tmp_path / "cities")
    rows = [(1, "New York"), (2, "a,b"), (3, "ü-city"), (4, "co:lon"),
            (5, "p%v"), (6, "sp ace"), (7, "plain")]
    df = spark.createDataFrame(rows, "k long, city string")
    manifest_upsert(spark, out, df, ["k"], partition_by=["city"])
    upd = spark.createDataFrame([(1, "New York"), (4, "co:lon")],
                                "k long, city string")
    manifest_upsert(spark, out, upd, ["k"], partition_by=["city"])
    got = read_table(spark, out)
    assert got.count() == 7  # no duplicated/resurrected rows
    assert got.filter(got.city == "New York").count() == 1
    assert got.filter(got.city == "co:lon").count() == 1
    manifest_delete(spark, out,
                    spark.createDataFrame([(3, "ü-city")],
                                          "k long, city string"),
                    ["k"], partition_by=["city"])
    left = read_table(spark, out)
    assert left.count() == 6
    assert left.filter(left.city == "ü-city").count() == 0


def test_replay_skip_survives_interleaved_maintenance(spark, tmp_path):
    """The per-app transaction watermark must survive commits from OTHER
    writers (compaction, upserts, constraint registration) — replay
    detection reads only the newest commit, so without the carried txns
    map a replayed micro-batch would append its rows twice."""
    from steel_datafusion_spark.sources.manifest import (
        alter_table_constraints, compact_table, latest_commit_info,
        manifest_upsert, read_table,
    )
    from steel_datafusion_spark.sources.manifest import _replayed_batch

    src = str(tmp_path / "src")
    tbl = str(tmp_path / "tbl")
    from pyspark.sql import functions as F

    batch = spark.range(50).select(F.col("id").alias("k"),
                                   (F.col("id") + 1).alias("v"))
    batch.coalesce(1).write.mode("overwrite").parquet(src)
    from steel_datafusion_spark.streaming.operators import (
        streaming_append_table,
    )

    streaming_append_table(spark, src, batch.schema, tbl,
                           str(tmp_path / "work"), max_files_per_trigger=1)
    info = latest_commit_info(tbl)
    txn_app = info["meta"]["txn_app"]
    last_batch = info["meta"]["batch_id"]
    # interleave maintenance commits that carry no batch_id of their own
    manifest_upsert(spark, tbl, batch.limit(1), ["k"])
    compact_table(spark, tbl, target_bytes=64 * 1024 * 1024)
    alter_table_constraints(spark, tbl, add={"v_pos": "v > 0"})
    cur = latest_commit_info(tbl)
    assert "batch_id" not in cur["meta"]
    assert cur["meta"]["txns"][txn_app] == last_batch  # carried through
    assert _replayed_batch(cur, txn_app, last_batch) is True
    assert _replayed_batch(cur, txn_app, last_batch + 1) is False
    n_before = read_table(spark, tbl).count()
    # driving the stream again with the same checkpoint is a no-op
    streaming_append_table(spark, src, batch.schema, tbl,
                           str(tmp_path / "work"), max_files_per_trigger=1)
    assert read_table(spark, tbl).count() == n_before


def test_time_travel_via_checkpoint_after_keep_log(spark, tmp_path):
    """vacuum(keep_log) prunes old commit files but retained checkpoint
    payloads still serve read_table(version=...) for checkpointed
    versions."""
    from steel_datafusion_spark.sources.manifest import (
        CHECKPOINT_INTERVAL, manifest_upsert, read_table, vacuum,
    )

    out = str(tmp_path / "ckpttravel")
    n = CHECKPOINT_INTERVAL + 3
    for i in range(1, n + 1):
        manifest_upsert(spark, out, _mk(spark, [(i, f"s{i}", i)]), ["k"],
                        keep_versions=1000)
    vacuum(out, keep=1000, keep_log=2)
    cdir = os.path.join(out, "_commits")
    ck = CHECKPOINT_INTERVAL
    assert not os.path.exists(os.path.join(cdir, f"v{ck:010d}.json"))
    assert os.path.exists(os.path.join(cdir,
                                       f"checkpoint-v{ck:010d}.json"))
    t = read_table(spark, out, version=ck)
    assert t.count() == ck  # the checkpointed snapshot still reads


def test_data_skipping_plan_pushes_residual_into_pruned_scan(
        spark, tmp_path):
    """The pruned read's physical plan must show BOTH halves of skipping:
    the FileScan's index holds only surviving files, and the residual
    predicates are pushed into that scan (PushedFilters), so parquet
    row-group skipping still happens INSIDE admitted files."""
    from pyspark.sql import functions as F

    from steel_datafusion_spark.sources.manifest import (
        manifest_upsert, read_table,
    )

    out = str(tmp_path / "plan")
    df = spark.range(10000).select(F.col("id").alias("k"),
                                   (F.col("id") * 1.5).alias("v"))
    manifest_upsert(spark, out, df.repartitionByRange(8, "k"), ["k"],
                    stats_cols=["k"])
    t = read_table(spark, out, where=[("k", ">=", 2000), ("k", "<", 3000)])
    assert len(t.inputFiles()) < 8
    plan = t._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert "GreaterThanOrEqual(k,2000)" in plan  # residual reached the
    assert "LessThan(k,3000)" in plan            # parquet reader


def test_vacuum_never_orphans_checkpoint_covered_versions(spark, tmp_path):
    """After vacuum(keep_log) prunes a checkpoint-covered version's commit
    file, the version's data dir must still count as COMMITTED: a second
    vacuum may not treat it as an aged orphan and reclaim it inside the
    retention window (the ADVICE r11 silent-data-loss repro — 12 commits,
    vacuum(keep=1000, keep_log=2), vacuum again, version 10 must read)."""
    from steel_datafusion_spark.sources.manifest import (
        CHECKPOINT_INTERVAL, manifest_upsert, read_table, vacuum,
    )

    out = str(tmp_path / "ckptorphan")
    ck = CHECKPOINT_INTERVAL
    for i in range(1, ck + 3):
        manifest_upsert(spark, out, _mk(spark, [(i, f"s{i}", i)]), ["k"],
                        keep_versions=1000)
    vacuum(out, keep=1000, keep_log=2)
    cdir = os.path.join(out, "_commits")
    assert not os.path.exists(os.path.join(cdir, f"v{ck:010d}.json"))
    # the second pass: orphan_retention_s=0 makes any dir vacuum deems
    # uncommitted reclaim IMMEDIATELY — exactly the bug's trigger
    removed = vacuum(out, keep=1000, orphan_retention_s=0.0)
    assert removed == 0
    t = read_table(spark, out, version=ck)
    assert t.count() == ck


def test_timestamp_as_of_reaches_checkpoint_only_versions(spark, tmp_path):
    """TIMESTAMP AS OF resolution must see versions whose commit file was
    pruned by keep_log but remain readable via their checkpoint payload —
    consistent with read_table(version=...)'s checkpoint fallback."""
    from steel_datafusion_spark.sources.manifest import (
        CHECKPOINT_INTERVAL, manifest_upsert, read_table, vacuum,
    )

    out = str(tmp_path / "ckptasof")
    ck = CHECKPOINT_INTERVAL
    for i in range(1, ck + 3):
        manifest_upsert(spark, out, _mk(spark, [(i, f"s{i}", i)]), ["k"],
                        keep_versions=1000)
    vacuum(out, keep=1000, keep_log=2)
    cdir = os.path.join(out, "_commits")
    with open(os.path.join(cdir, f"checkpoint-v{ck:010d}.json")) as fh:
        ck_ts = json.load(fh)["ts"]
    t = read_table(spark, out, as_of=ck_ts)
    assert t.count() == ck  # resolved to the checkpoint-only version


def test_table_detail_reports_backfilled_stats_cols(spark, tmp_path):
    """DESCRIBE DETAIL must show stats_cols for a table whose sidecar was
    backfilled via write_table_stats (commit meta untouched) — data
    skipping IS active on it, and writers already inherit the set."""
    from steel_datafusion_spark.sources.manifest import (
        manifest_upsert, table_detail, write_table_stats,
    )

    out = str(tmp_path / "detailbf")
    manifest_upsert(spark, out, _mk(spark, [(1, "a", 10), (2, "b", 20)]),
                    ["k"])  # no stats_cols at write time
    assert table_detail(spark, out).head().stats_cols == []
    write_table_stats(out, ["k", "v"])
    assert table_detail(spark, out).head().stats_cols == ["k", "v"]


def test_bloom_carries_forward_across_writers(spark, tmp_path):
    """Bloom filters survive normal writes like the stats sidecar:
    hardlinked files REUSE their filter bytes by relpath (proved by
    poisoning a base entry and watching it propagate — a rescan would
    heal it), only rewritten files scan, the registration rides in
    commit meta, and point lookups keep pruning after the upsert."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq
    from pyspark.sql import functions as F

    from steel_datafusion_spark.sources.filestats import (
        bloom_parquet_path, load_bloom_parquet,
    )
    from steel_datafusion_spark.sources.manifest import (
        latest_commit, latest_commit_info, manifest_upsert, read_table,
        write_table_bloom,
    )

    out = str(tmp_path / "bloomcarry")
    df = spark.range(4000).select(
        F.concat(F.lit("u-"), F.md5(F.col("id").cast("string")))
        .alias("uid"),
        (F.col("id") % 4).alias("p"),
        F.col("id").alias("k"))
    manifest_upsert(spark, out, df, ["uid"], partition_by=["p"],
                    keep_versions=10)
    write_table_bloom(spark, out, ["uid"], bits=1 << 14)
    _v1, d1 = latest_commit(out)
    b1 = _pq.read_table(bloom_parquet_path(d1, "uid"))
    meta1 = b1.schema.metadata
    rows1 = b1.to_pylist()
    victim = next(r["rel"] for r in rows1 if r["rel"].startswith("p=3"))
    nb = len(rows1[0]["f"])
    poison = b"\xa5" * nb
    for r in rows1:
        if r["rel"] == victim:
            r["f"] = poison
    _pq.write_table(
        _pa.Table.from_pylist(rows1, schema=b1.schema)
        .replace_schema_metadata(meta1),
        bloom_parquet_path(d1, "uid"))
    upd = (df.filter(F.col("p") == 1)
           .withColumn("k", F.col("k") + 100000))
    manifest_upsert(spark, out, upd, ["uid"], partition_by=["p"],
                    keep_versions=10)
    info = latest_commit_info(out)
    assert info["meta"]["bloom"] == {"uid": {"bits": 1 << 14, "k": 5}}
    b2 = load_bloom_parquet(info["data_dir"], "uid")
    rel2idx = {rel: i for i, rel in enumerate(b2["rels"].to_pylist())}
    assert b2["mat"][rel2idx[victim]].tobytes() == poison  # carried
    assert any(rel.startswith("p=1") for rel in rel2idx)  # rewritten
    # point lookups still prune and stay exact on the NEW version
    tgt = df.filter((F.col("k") == 2) & (F.col("p") == 2)).head().uid
    hit = read_table(spark, out, where=[("uid", "=", tgt)])
    assert len(hit.inputFiles()) < len(read_table(spark, out).inputFiles())
    assert hit.count() == 1
    absent = read_table(spark, out, where=[("uid", "=", "u-missing")])
    assert absent.count() == 0


def test_bloom_per_column_sidecars_load_independently(spark, tmp_path):
    """Per-COLUMN bloom sidecars: probing one column never needs another
    column's filter bytes — deleting col B's sidecar leaves col A's
    pruning fully intact (at 10⁶ files this is the difference between
    parsing one column's filters and the whole table's)."""
    from pyspark.sql import functions as F

    from steel_datafusion_spark.sources.filestats import (
        bloom_parquet_path,
    )
    from steel_datafusion_spark.sources.manifest import (
        latest_commit, manifest_upsert, read_table, table_detail,
        write_table_bloom,
    )

    out = str(tmp_path / "bloomcols")
    df = spark.range(4000).select(
        F.col("id").alias("k"),
        F.md5(F.col("id").cast("string")).alias("s"))
    manifest_upsert(spark, out, df.repartition(8, "k"), ["k"])
    write_table_bloom(spark, out, ["k", "s"], bits=1 << 14)
    assert table_detail(spark, out).head().bloom_cols == ["k", "s"]
    _v, d = latest_commit(out)
    assert os.path.exists(bloom_parquet_path(d, "k"))
    os.unlink(bloom_parquet_path(d, "s"))  # col s's bytes are GONE
    hit = read_table(spark, out, where=[("k", "=", 1234)])
    assert len(hit.inputFiles()) < 8  # k pruning never touched s's file
    assert hit.count() == 1
    # s probes abstain (filter deleted) but stay exact via the residual
    sval = df.filter(F.col("k") == 7).head().s
    assert read_table(spark, out, where=[("s", "=", sval)]).count() == 1


def test_multiprocess_writer_race_serializes(spark, tmp_path):
    """TWO REAL Spark drivers (separate JVMs/processes) upsert one
    manifest table concurrently: the O_EXCL commit claim must serialize
    every version (no gaps, no double-claims), losers must re-merge on
    the winner's table, and the final snapshot must contain BOTH
    writers' rows exactly once — the in-process simulated races
    (test_commit_conflict_retries_on_winners_table) promoted to a true
    cross-process interleaving (VERDICT r11 item 6)."""
    import subprocess
    import sys
    import textwrap

    root = str(tmp_path / "racetbl")
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent("""
        import os, sys
        sys.path.insert(0, __REPO_ROOT__)
        root, lo, hi = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
        from pyspark.sql import SparkSession
        from pyspark.sql import functions as F
        spark = (SparkSession.builder.master("local[4]")
                 .config("spark.ui.enabled", "false")
                 .config("spark.sql.shuffle.partitions", "4")
                 .appName(f"race-writer-{lo}").getOrCreate())
        spark.sparkContext.setLogLevel("ERROR")
        from steel_datafusion_spark.sources.manifest import manifest_upsert
        df = spark.range(lo, hi).select(F.col("id").alias("k"),
                                        (F.col("id") * 2).alias("v"))
        for i in range(3):
            b = df.filter((F.col("k") % 3) == i)
            manifest_upsert(spark, root, b, ["k"], keep_versions=1000)
        spark.stop()
        print("WRITER_DONE")
    """).replace("__REPO_ROOT__", repr(repo_root))
    procs = []
    for lo, hi in ((0, 300), (1000, 1300)):
        procs.append(subprocess.Popen(
            [sys.executable, "-c", script, root, str(lo), str(hi)],
            cwd=str(tmp_path),
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True))
    outs = [p.communicate(timeout=300) for p in procs]
    for p, (out, err) in zip(procs, outs):
        assert p.returncode == 0, f"writer failed:\n{out}\n{err[-3000:]}"
        assert "WRITER_DONE" in out
    from steel_datafusion_spark.sources.manifest import (
        read_table, table_history,
    )

    hist = table_history(spark, root).collect()
    versions = sorted(r.version for r in hist)
    assert versions == list(range(1, 7))  # 6 commits, serialized, no gaps
    got = read_table(spark, root).groupBy("k").count().collect()
    keys = {r.k for r in got}
    assert keys == set(range(0, 300)) | set(range(1000, 1300))
    assert all(r["count"] == 1 for r in got)  # no torn/duplicated rows


def test_stats_legacy_combined_sidecar_still_prunes(spark, tmp_path):
    """A pre-split table (combined _stats.json only, the r11 on-disk
    format): readers ignore the JSON, so a pruned read keeps every file
    and returns the same rows, with a warning.  The NEXT writer emits
    _stats.parquet from the data files' own footers — nothing is carried
    from the JSON — and pruning resumes."""
    import urllib.parse

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from steel_datafusion_spark.sources.filestats import (
        stats_parquet_path,
    )
    from steel_datafusion_spark.sources.manifest import (
        _iter_data_files, latest_commit, manifest_upsert, read_table,
    )

    out = str(tmp_path / "statlegacy")
    df = spark.range(10000).select(F.col("id").alias("k"),
                                   (F.col("id") * 1.5).alias("v"))
    manifest_upsert(spark, out, df.repartitionByRange(8, "k"), ["k"],
                    stats_cols=["k"], keep_versions=10)
    _ver, d = latest_commit(out)
    _downgrade_stats_to_legacy_json(d, splits=False)
    with pytest.warns(UserWarning, match="upgrade_table_stats"):
        t = read_table(spark, out, where=[("k", "=", 7777)])
    assert len(t.inputFiles()) == len(read_table(spark, out).inputFiles())
    assert sorted(map(tuple, t.collect())) == sorted(map(tuple, df.filter(
        F.col("k") == 7777).collect()))
    # the next upsert emits _stats.parquet.  This upsert is
    # unpartitioned, so it rewrites the whole table and Spark's scan
    # packing decides which key ranges share a rewritten file — the
    # check is that pruning keeps exactly the files whose own footers
    # may hold the key, not that one file survives
    upd = df.filter(F.col("k") < 10).withColumn("v", F.col("v") + 1)
    manifest_upsert(spark, out, upd, ["k"], keep_versions=10)
    _v2, d2 = latest_commit(out)
    assert os.path.exists(stats_parquet_path(d2))
    t2 = read_table(spark, out, where=[("k", "=", 7777)])
    assert t2.count() == 1
    want = {os.path.realpath(p) for _rel, p in _iter_data_files(d2)
            if _footer_may_contain(p, "k", 7777)}
    got = {os.path.realpath(urllib.parse.unquote(
        urllib.parse.urlparse(f).path)) for f in t2.inputFiles()}
    assert got == want

    # a partitioned upsert hardlinks the untouched partitions' files.
    # One such file's JSON hi is WIDENED (still correct, never
    # footer-derivable): writers do not read the JSON, so v2's parquet
    # row for that file must hold the footer's hi
    outp = str(tmp_path / "statlegacy_part")
    dfp = df.withColumn("p", (F.col("k") / 2500).cast("int"))
    manifest_upsert(spark, outp, dfp.repartitionByRange(4, "k"), ["k"],
                    partition_by=["p"], stats_cols=["k"], keep_versions=10)
    _vp, dp = latest_commit(outp)
    _downgrade_stats_to_legacy_json(dp, splits=False)
    with open(os.path.join(dp, "_stats.json")) as fh:
        legacy = json.load(fh)
    marked = sorted(r for r in legacy["files"] if r.startswith("p=0/"))[0]
    legacy["files"][marked]["cols"]["k"]["hi"] = 10 ** 6
    with open(os.path.join(dp, "_stats.json"), "w") as fh:
        json.dump(legacy, fh)
    updp = dfp.filter(F.col("p") == 1).limit(5) \
        .withColumn("v", F.col("v") + 1)
    manifest_upsert(spark, outp, updp, ["k"], partition_by=["p"],
                    keep_versions=10)
    _vp2, dp2 = latest_commit(outp)
    md = pq.ParquetFile(os.path.join(dp2, marked)).metadata
    footer_hi = max(
        md.row_group(g).column(c).statistics.max
        for g in range(md.num_row_groups) for c in range(md.num_columns)
        if md.row_group(g).column(c).path_in_schema == "k")
    carried = pq.read_table(stats_parquet_path(dp2)).to_pylist()
    row = next(r for r in carried if r["rel"] == marked)
    assert row["hi:k"] == footer_hi < 10 ** 6
    tp = read_table(spark, outp, where=[("k", "=", 7777)])
    assert tp.count() == 1


def test_bloom_legacy_json_sidecar_still_prunes(spark, tmp_path):
    """A pre-r13 bloom sidecar (per-column JSON, b64 filter bytes):
    readers ignore it, so a point lookup reads every file and returns
    the same rows, with a warning; upgrade_table_stats re-packs the
    filter bytes into the parquet sidecar and bloom pruning returns."""
    from pyspark.sql import functions as F

    from steel_datafusion_spark.sources.filestats import (
        bloom_parquet_path,
    )
    from steel_datafusion_spark.sources.manifest import (
        latest_commit, manifest_upsert, read_table, upgrade_table_stats,
        write_table_bloom,
    )

    out = str(tmp_path / "bloomlegacy")
    df = spark.range(4000).select(
        F.md5(F.col("id").cast("string")).alias("uid"),
        (F.col("id") % 4).alias("p"),
        F.col("id").alias("k"))
    manifest_upsert(spark, out, df, ["uid"], partition_by=["p"],
                    keep_versions=10)
    write_table_bloom(spark, out, ["uid"], bits=1 << 14)
    _v, d = latest_commit(out)
    _downgrade_bloom_to_legacy_json(d, "uid")
    tgt = df.filter(F.col("k") == 42).head().uid
    n_all = len(read_table(spark, out).inputFiles())
    with pytest.warns(UserWarning, match="upgrade_table_stats"):
        hit = read_table(spark, out, where=[("uid", "=", tgt)])
    assert len(hit.inputFiles()) == n_all
    assert [r.k for r in hit.collect()] == [42]
    assert upgrade_table_stats(out)["bloom_cols"] == ["uid"]
    assert os.path.exists(bloom_parquet_path(d, "uid"))
    hit2 = read_table(spark, out, where=[("uid", "=", tgt)])
    assert len(hit2.inputFiles()) < n_all
    assert [r.k for r in hit2.collect()] == [42]


def test_pruning_without_stats_parquet_keeps_partition_and_bloom_verdicts(
        spark, tmp_path):
    """A current-format version with no usable _stats.parquet — blooms
    but no stats_cols, the shape of the data_skipping_bloom gate, or a
    corrupt stats sidecar — still prunes by partition path and by bloom
    filter: a partition + point predicate opens a strict subset of the
    partition's files and returns the full-scan rows, without a
    warning."""
    import warnings

    from pyspark.sql import functions as F

    from steel_datafusion_spark.sources.filestats import (
        stats_parquet_path,
    )
    from steel_datafusion_spark.sources.manifest import (
        latest_commit, manifest_upsert, read_table, write_table_bloom,
        write_table_stats,
    )

    out = str(tmp_path / "nostats")
    df = spark.range(4000).select(
        F.concat(F.lit("u-"), F.md5(F.col("id").cast("string")))
        .alias("uid"),
        (F.col("id") % 4).alias("p"),
        F.col("id").alias("k"))
    # repartition(8) (never coalesced) puts 8 files in every partition
    manifest_upsert(spark, out, df.repartition(8), ["uid"],
                    partition_by=["p"])
    write_table_bloom(spark, out, ["uid"], bits=1 << 14)
    _v, d = latest_commit(out)
    assert not os.path.exists(stats_parquet_path(d))
    p1_files = [f for f in read_table(spark, out).inputFiles()
                if "/p=1/" in f]
    assert len(p1_files) == 8
    tgt = df.filter(F.col("k") == 41).head().uid  # 41 % 4 == 1
    oracle = sorted(map(tuple, df.filter(
        (F.col("p") == 1) & (F.col("uid") == tgt))
        .select("uid", "k", "p").collect()))

    def point_read():
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            t = read_table(spark, out,
                           where=[("p", "=", 1), ("uid", "=", tgt)])
        # no JSON sidecars: no upgrade warning
        assert not any("upgrade_table_stats" in str(w.message)
                       for w in caught)
        assert set(t.inputFiles()) < set(p1_files)
        assert sorted(map(tuple, t.select("uid", "k", "p").collect())) \
            == oracle

    point_read()
    # a corrupt _stats.parquet on a statted version: the same verdicts
    # run over the directory census, and a partition predicate alone
    # still prunes whole partitions
    write_table_stats(out, ["k"])
    with open(stats_parquet_path(d), "w") as fh:
        fh.write("not parquet")
    point_read()
    t = read_table(spark, out, where=[("p", "=", 2)])
    files = t.inputFiles()
    assert len(files) == 8 and all("/p=2/" in f for f in files)
    assert t.count() == 1000


def test_bloom_carry_never_false_negative_across_write_chain(
        spark, tmp_path):
    """Property of the carry path: after ANY chain of writers on a
    bloom-indexed table (partitioned upserts, deletes, compaction), a
    point lookup for EVERY live key must find its row — carried filter
    bytes may only ever admit extra files, never lose a key.  Drives a
    4-step write chain and then probes the full key space."""
    from pyspark.sql import functions as F

    from steel_datafusion_spark.sources.manifest import (
        compact_table, manifest_delete, manifest_upsert, read_table,
        write_table_bloom,
    )

    out = str(tmp_path / "bloomprop")

    def mk(lo, hi, bump=0):
        return spark.range(lo, hi).select(
            F.md5((F.col("id") + bump).cast("string")).alias("uid"),
            (F.col("id") % 4).alias("p"),
            F.col("id").alias("k"))

    manifest_upsert(spark, out, mk(0, 800), ["uid"], partition_by=["p"],
                    keep_versions=10)
    write_table_bloom(spark, out, ["uid"], bits=1 << 12)
    # chain: partition-granular upsert (new keys), keyed delete,
    # second upsert, compaction — every writer carries the filters
    manifest_upsert(spark, out, mk(800, 900), ["uid"],
                    partition_by=["p"], keep_versions=10)
    dels = mk(0, 50).select("uid", "p")
    manifest_delete(spark, out, dels, ["uid"], partition_by=["p"],
                    keep_versions=10)
    manifest_upsert(spark, out, mk(900, 950), ["uid"],
                    partition_by=["p"], keep_versions=10)
    compact_table(spark, out, target_bytes=1 << 20, keep_versions=10)
    live = read_table(spark, out).select("uid", "k").collect()
    assert len(live) == 900  # 950 written - 50 deleted
    # every live key found through the bloom-pruned read (sampled
    # exhaustively every 9th key to keep the loop bounded)
    total = len(read_table(spark, out).inputFiles())
    pruned_any = False
    for r in live[::9]:
        got = read_table(spark, out, where=[("uid", "=", r.uid)])
        pruned_any = pruned_any or len(got.inputFiles()) < total
        assert [x.k for x in got.collect()] == [r.k]
    assert pruned_any  # the filters are actually engaged, not inert
    # deleted keys return nothing (pruned or residual-filtered)
    gone = mk(0, 50).collect()
    for r in gone[::7]:
        assert read_table(spark, out,
                          where=[("uid", "=", r.uid)]).count() == 0


def test_driver_prune_cases_match_unpruned_read(spark, tmp_path):
    """Range, point, bloom, partition, null, ``in`` and 2^53 predicates,
    plus three pairs probing one bloom-indexed column twice: each pruned
    read returns exactly the rows of the unpruned read filtered by the
    same SQL predicate, and opens a pinned number of files, so a loss of
    pruning power fails as surely as a wrong answer.  The input is
    written unshuffled from a fixed 4-slice range, so the layout (16
    files: k in [0,1000), [1000,2000), ... times 4 partitions) is the
    same at any core count and session state (a sampled
    ``repartitionByRange`` is not: its bounds depend on RDD ids)."""
    from pyspark.sql import functions as F

    from steel_datafusion_spark.sources.manifest import (
        manifest_upsert, read_table, write_table_bloom,
    )

    out = str(tmp_path / "cases")
    df = spark.range(0, 4000, 1, 4).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("p"),
        (F.col("id") * 1.5).alias("v"),
        F.when(F.col("id") % 2 == 0, F.col("id").cast("double"))
        .alias("w"),
        F.format_string("s%05d", F.col("id")).alias("s"))
    manifest_upsert(spark, out, df, ["k"], partition_by=["p"],
                    stats_cols=["k", "v", "w", "s"])
    write_table_bloom(spark, out, ["s"], bits=1 << 12)
    big = 2 ** 53
    eout = str(tmp_path / "cases53")
    edf = spark.createDataFrame([(big,), (big + 2,)], "k long")
    manifest_upsert(spark, eout, edf.repartitionByRange(2, "k"), ["k"],
                    stats_cols=["k"])

    # (root, where, the same predicate as SQL, files opened)
    cases = [
        (out, [("k", ">=", 1000), ("k", "<", 2000)],
         "k >= 1000 AND k < 2000", 4),
        (out, [("s", "=", "s00777")], "s = 's00777'", 1),
        (out, [("p", "=", "2")], "p = '2'", 4),
        (out, [("p", "=", 1), ("k", "<", 100)], "p = 1 AND k < 100", 1),
        (out, [("w", "isnull", None)], "w IS NULL", 8),
        (out, [("w", "isnotnull", None)], "w IS NOT NULL", 8),
        (out, [("v", ">", 5900.0)], "v > 5900.0", 4),
        (out, [("k", "in", [5, 3999, 12345])], "k IN (5, 3999, 12345)", 5),
        (out, [("k", ">", 10 ** 9)], "k > 1000000000", 0),
        (eout, [("k", "<", big + 1)], f"k < {big + 1}", 1),
        (eout, [("k", "!=", big + 1)], f"k != {big + 1}", 2),
        # one bloom-indexed column probed by TWO predicates: each tests
        # its OWN literals against the one loaded sidecar
        (out, [("s", "=", "s00777"), ("s", "=", "s00777")],
         "s = 's00777' AND s = 's00777'", 1),
        (out, [("s", "=", "s00777"), ("s", "=", "s03888")],
         "s = 's00777' AND s = 's03888'", 0),
        (out, [("s", "in", ["s00777", "s03888"]), ("s", "=", "s03888")],
         "s IN ('s00777', 's03888') AND s = 's03888'", 1),
    ]
    for root, where, sql, opened in cases:
        full = read_table(spark, root)
        cols = full.columns
        want = sorted(map(tuple, full.filter(sql).select(*cols).collect()))
        d = read_table(spark, root, where=where)
        assert sorted(map(tuple, d.select(*cols).collect())) == want, sql
        # the contradictory pair opens 0 files: per-predicate probes
        # intersect (one shared probe would admit the first file)
        assert len(d.inputFiles()) == opened, sql


def test_incomplete_stats_sidecar_falls_back_keep_all(spark, tmp_path):
    """A readable-but-INCOMPLETE _stats.parquet must never silently
    drop data files from results: the pruner cross-checks the writer's
    file_count stamp and (below STATS_CENSUS_VERIFY_MAX) an actual
    directory census, and on mismatch prunes over the census with stats
    keeping every file (ADVICE r13)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from steel_datafusion_spark.sources import filestats
    from steel_datafusion_spark.sources.manifest import (
        latest_commit, manifest_upsert, read_table,
    )

    out = str(tmp_path / "incomplete")
    df = spark.range(400).select(F.col("id").alias("k"))
    manifest_upsert(spark, out, df.repartitionByRange(4, "k"), ["k"],
                    stats_cols=["k"])
    _v, d = latest_commit(out)
    sp = filestats.stats_parquet_path(d)
    full = pq.read_table(sp)
    want = sorted(r.k for r in read_table(spark, out).collect())
    assert read_table(
        spark, out, where=[("k", "=", 399)]).count() == 1

    # (a) a row silently missing, file_count stamp stale → caught by
    # the stamp check even above the census bound
    pq.write_table(full.slice(0, full.num_rows - 1), sp)
    assert sorted(r.k for r in
                  read_table(spark, out).collect()) == want
    got = read_table(spark, out, where=[("k", ">=", 0)])
    assert sorted(r.k for r in got.collect()) == want
    assert len(got.inputFiles()) == 4  # keep-all fallback, not pruning

    # (b) stamp "fixed up" to match the truncated rows → caught by the
    # directory census below STATS_CENSUS_VERIFY_MAX
    trunc = full.slice(0, full.num_rows - 1)
    meta = dict(trunc.schema.metadata or {})
    meta[b"file_count"] = str(trunc.num_rows).encode()
    pq.write_table(trunc.replace_schema_metadata(meta), sp)
    got = read_table(spark, out, where=[("k", ">=", 0)])
    assert sorted(r.k for r in got.collect()) == want
    assert len(got.inputFiles()) == 4

    # (c) restore the intact sidecar → pruning resumes
    pq.write_table(full, sp)
    pruned = read_table(spark, out, where=[("k", "=", 399)])
    assert len(pruned.inputFiles()) == 1


def test_vacuum_bounds_sidecar_counts_across_commits(spark, tmp_path):
    """Stats/bloom sidecars are PER-VERSION files inside each version's
    data dir, so vacuum's version-dir removal must bound them too —
    a long-lived table carrying N commits keeps sidecars only for the
    retained versions, and the survivor still prunes (VERDICT r13
    item 7)."""
    import glob

    from pyspark.sql import functions as F

    from steel_datafusion_spark.sources.manifest import (
        manifest_upsert, read_table, table_history, vacuum,
        write_table_bloom,
    )

    out = str(tmp_path / "ret")
    for i in range(6):
        df = spark.range(i * 100, (i + 1) * 100).select(
            F.col("id").alias("k"),
            F.md5(F.col("id").cast("string")).alias("uid"))
        manifest_upsert(spark, out, df.repartitionByRange(2, "k"),
                        ["k"], stats_cols=["k"], keep_versions=100)
    write_table_bloom(spark, out, ["uid"], bits=1 << 10)
    # every version wrote its own stats sidecar; only the newest has
    # the bloom backfill
    stats_files = glob.glob(f"{out}/**/_stats.parquet", recursive=True)
    assert len(stats_files) == 6
    removed = vacuum(out, keep=2)
    assert removed == 4
    stats_files = glob.glob(f"{out}/**/_stats.parquet", recursive=True)
    bloom_files = glob.glob(f"{out}/**/_bloom-*.parquet", recursive=True)
    assert len(stats_files) == 2  # bounded: retained versions only
    assert len(bloom_files) == 1  # the backfilled newest
    assert table_history(spark, out).count() >= 2
    # the survivor still prunes on both sidecars
    pruned = read_table(spark, out, where=[("k", "=", 555)])
    assert [r.k for r in pruned.collect()] == [555]
    assert len(pruned.inputFiles()) == 1
    target = read_table(spark, out).filter("k = 321").head().uid
    bl = read_table(spark, out, where=[("uid", "=", target)])
    assert [r.k for r in bl.collect()] == [321]
    assert len(bl.inputFiles()) < 12


def test_upgrade_table_stats_migrates_legacy_sidecars(spark, tmp_path):
    """upgrade_table_stats converts a pre-parquet table's JSON skipping
    sidecars (combined _stats.json + splits + per-column bloom JSON) to
    the columnar formats in one call — no data files re-read — removes
    the superseded JSON, and the next pruned read runs the parquet
    path with identical results (VERDICT r13 item 8: the legacy
    per-file loop otherwise stays alive forever on old tables)."""
    import glob

    from pyspark.sql import functions as F

    from steel_datafusion_spark.sources import filestats
    from steel_datafusion_spark.sources.manifest import (
        latest_commit, manifest_upsert, read_table, upgrade_table_stats,
        write_table_bloom,
    )

    out = str(tmp_path / "upg")
    df = spark.range(2000).select(
        F.col("id").alias("k"),
        F.md5(F.col("id").cast("string")).alias("uid"))
    manifest_upsert(spark, out, df.repartitionByRange(4, "k"), ["k"],
                    stats_cols=["k"])
    write_table_bloom(spark, out, ["uid"], bits=1 << 14)
    _v, d = latest_commit(out)
    target = df.filter(F.col("k") == 777).head().uid

    _downgrade_stats_to_legacy_json(d)
    _downgrade_bloom_to_legacy_json(d, "uid")
    assert not os.path.exists(filestats.stats_parquet_path(d))
    legacy_pruned = read_table(spark, out, where=[("k", "=", 777)])
    want = sorted(map(tuple, legacy_pruned.collect()))
    bwant = sorted(map(tuple, read_table(
        spark, out, where=[("uid", "=", target)]).collect()))

    res = upgrade_table_stats(out)
    assert res["stats_files"] == 4
    assert res["bloom_cols"] == ["uid"]
    assert res["removed_legacy"] >= 3  # combined + split + bloom json
    assert os.path.exists(filestats.stats_parquet_path(d))
    assert os.path.exists(filestats.bloom_parquet_path(d, "uid"))
    assert glob.glob(f"{d}/_stats*.json") == []
    assert glob.glob(f"{d}/_statscol-*.json") == []
    assert glob.glob(f"{d}/_bloom-*.json") == []

    pruned = read_table(spark, out, where=[("k", "=", 777)])
    assert sorted(map(tuple, pruned.collect())) == want
    assert len(pruned.inputFiles()) == 1  # parquet path prunes
    bl = read_table(spark, out, where=[("uid", "=", target)])
    assert sorted(map(tuple, bl.collect())) == bwant
    assert len(bl.inputFiles()) < 4

    # idempotent: second call is a no-op
    res2 = upgrade_table_stats(out)
    assert res2 == {"stats_files": None, "bloom_cols": [],
                    "removed_legacy": 0}

    # splits-only legacy shape (combined JSON gone, per-column splits
    # intact): the migration re-collects from footers and still sunsets
    # the JSON
    _downgrade_stats_to_legacy_json(d, combined=False, splits=True)
    assert not os.path.exists(filestats.stats_parquet_path(d))
    res3 = upgrade_table_stats(out)
    assert res3["stats_files"] == 4
    assert os.path.exists(filestats.stats_parquet_path(d))
    assert glob.glob(f"{d}/_statscol-*.json") == []
    pruned = read_table(spark, out, where=[("k", "=", 777)])
    assert sorted(map(tuple, pruned.collect())) == want
    assert len(pruned.inputFiles()) == 1


def test_commit_carries_stats_and_bloom_from_predecessor_version(
        spark, tmp_path):
    """Every writer's commit (``_finalize_stats``/``_finalize_bloom``)
    reuses the base version's stats row AND bloom bytes for each
    hardlinked file instead of re-reading it.  Equal output can't tell
    a carry from a silent rebuild, so v1's sidecars are tampered for
    one untouched ``p=0`` file: after an upsert of ``p=1`` keys only,
    v2's rows for that file must hold both tampered values."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from steel_datafusion_spark.sources import filestats
    from steel_datafusion_spark.sources.manifest import (
        latest_commit, manifest_upsert, read_table, write_table_bloom,
    )

    out = str(tmp_path / "carry")
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("k"), (F.col("id") / 1000).cast("int").alias("p"),
        F.md5(F.col("id").cast("string")).alias("uid"))
    manifest_upsert(spark, out, mk(0, 2000).repartitionByRange(4, "k"),
                    ["k"], partition_by=["p"], stats_cols=["k"],
                    keep_versions=100)
    write_table_bloom(spark, out, ["uid"], bits=1 << 12)
    _v1, d1 = latest_commit(out)

    sp1 = filestats.stats_parquet_path(d1)
    s1 = pq.read_table(sp1)
    rels = s1.column("rel").to_pylist()
    i = next(j for j, r in enumerate(rels) if r.startswith("p=0"))
    marked_rel = rels[i]
    his = s1.column("hi:k").to_pylist()
    his[i] = 10 ** 6
    s1 = s1.set_column(s1.schema.get_field_index("hi:k"), "hi:k",
                       pa.array(his, type=pa.int64()))
    pq.write_table(s1, sp1)  # schema metadata (stats_cols) kept
    b1 = pq.read_table(filestats.bloom_parquet_path(d1, "uid"))
    fs = b1.column("f").to_pylist()
    j = b1.column("rel").to_pylist().index(marked_rel)
    marked = bytearray(fs[j])
    marked[0] ^= 0xFF
    fs[j] = bytes(marked)
    filestats.write_bloom_parquet_table(
        d1, "uid", b1.set_column(1, "f", pa.array(fs, type=b1.column("f")
                                                  .type)), 1 << 12, 5)

    manifest_upsert(spark, out, mk(1000, 1500).withColumn(
                        "uid", F.lit("changed")), ["k"],
                    partition_by=["p"], keep_versions=100)
    _v2, d2 = latest_commit(out)
    assert os.path.samefile(os.path.join(d1, marked_rel),
                            os.path.join(d2, marked_rel))
    s2 = pq.read_table(filestats.stats_parquet_path(d2))
    k2 = s2.column("rel").to_pylist().index(marked_rel)
    assert s2.column("hi:k")[k2].as_py() == 10 ** 6  # carried
    b2 = pq.read_table(filestats.bloom_parquet_path(d2, "uid"))
    k2 = b2.column("rel").to_pylist().index(marked_rel)
    assert b2.column("f")[k2].as_py() == bytes(marked)  # carried
    # the rewritten p=1 files were scanned afresh: the new uid is found
    hit = read_table(spark, out, where=[("uid", "=", "changed")])
    assert hit.count() == 500


# ---------------------------------------------------------------------------
# Schemas in the commit log: every commit records its version's schema,
# and no read of a committed version starts Spark's inference job.
# ---------------------------------------------------------------------------

def _jobs_of(spark, fn):
    """(``fn()``, ids of the Spark jobs it launched) — counted through a
    job group once the listener bus has delivered every event."""
    import uuid

    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def skipping_table(spark, tmp_path_factory):
    """A two-version table with stats on ``k`` (four range-clustered
    files) and a bloom filter on ``uid``; yields (root, as_of instant
    of version 1, uid of k=777)."""
    import time as _time

    from steel_datafusion_spark.sources.manifest import (
        manifest_upsert, write_table_bloom,
    )

    root = str(tmp_path_factory.mktemp("budget") / "t")
    df = spark.range(4000).select(
        F.col("id").alias("k"),
        F.md5(F.col("id").cast("string")).alias("uid"),
        (F.col("id") * 0.5).alias("v"))
    manifest_upsert(spark, root, df.repartitionByRange(4, "k"), ["k"],
                    stats_cols=["k"], keep_versions=10)
    write_table_bloom(spark, root, ["uid"], bits=1 << 14)
    as_of = _time.time()
    _time.sleep(0.05)
    manifest_upsert(spark, root, df.filter(F.col("k") < 10)
                    .withColumn("v", F.lit(-1.0)), ["k"], keep_versions=10)
    uid = df.filter(F.col("k") == 777).head().uid
    yield root, as_of, uid


@pytest.mark.parametrize("form", ["newest", "version", "as_of",
                                  "where_some", "where_all", "where_none",
                                  "where_bloom"])
def test_committed_read_launches_no_job(spark, skipping_table, form):
    """Building a ``read_table`` frame of a committed version — newest,
    time travel, or pruned with some, all or no files surviving, a bloom
    probe included — starts no Spark job: the schema comes from the
    commit, not from an inference job over the files."""
    from steel_datafusion_spark.sources.manifest import read_table

    root, as_of, uid = skipping_table
    kwargs, rows = {
        "newest": ({}, 4000),
        "version": ({"version": 1}, 4000),
        "as_of": ({"as_of": as_of}, 4000),
        "where_some": ({"where": [("k", "<", 100)]}, 100),
        "where_all": ({"where": [("k", ">=", 0)]}, 4000),
        "where_none": ({"where": [("k", ">", 10 ** 9)]}, 0),
        "where_bloom": ({"where": [("uid", "=", uid)]}, 1),
    }[form]
    df, jobs = _jobs_of(spark, lambda: read_table(spark, root, **kwargs))
    assert jobs == []
    assert df.count() == rows
    if form in ("where_some", "where_bloom"):  # the survivors-only read
        assert len(df.inputFiles()) < len(read_table(spark, root)
                                          .inputFiles())


def test_read_parquet_of_manifest_root_launches_no_job(spark,
                                                       skipping_table):
    from steel_datafusion_spark.sources.readers import read_parquet

    root, _as_of, _uid = skipping_table
    df, jobs = _jobs_of(spark, lambda: read_parquet(spark, root))
    assert jobs == []
    assert df.count() == 4000


def test_with_delta_launches_no_job(spark, tmp_path):
    """The base ∪ delta read of an index table builds without a job."""
    from steel_datafusion_spark.sources.bucketing import drop_managed_table
    from steel_datafusion_spark.sources.index_tables import with_delta
    from steel_datafusion_spark.sources.manifest import manifest_upsert

    table = "budget_with_delta"
    drop_managed_table(spark, table)
    rows = spark.range(20).select(F.col("id").alias("k"),
                                  (F.col("id") * 2).alias("v"))
    rows.write.bucketBy(2, "k").sortBy("k").saveAsTable(table)
    delta = str(tmp_path / "delta")
    manifest_upsert(spark, delta, rows.filter(F.col("k") < 5), ["k"])
    try:
        df, jobs = _jobs_of(spark, lambda: with_delta(spark, table, delta))
        assert jobs == []
        assert df.count() == 25
    finally:
        drop_managed_table(spark, table)


def _assert_schema_recorded(spark, root):
    """The newest commit's recorded schema is exactly what Spark infers
    from the version's data dir."""
    from steel_datafusion_spark.sources.manifest import latest_commit_info

    info = latest_commit_info(root)
    inferred = spark.read.parquet(info["data_dir"]).schema.json()
    assert info["meta"]["schema"] == inferred


def _wide(spark, lo, hi, p_of=lambda i: str(i % 2)):
    """Rows with nested and timestamp columns and a string partition
    column whose values look like integers (Spark infers int)."""
    import datetime as _dt

    return spark.createDataFrame(
        [(i, f"s{i}", [i, i + 1], {"a": i}, (i, f"n{i}"),
          _dt.datetime(2024, 1, 1 + i % 28), p_of(i))
         for i in range(lo, hi)],
        "k long not null, s string, arr array<long>, m map<string,long>, "
        "st struct<x:long,y:string>, ts timestamp, p string")


def _w_upsert_first(spark, root, tmp_path):
    from steel_datafusion_spark.sources.manifest import manifest_upsert

    manifest_upsert(spark, root, _wide(spark, 0, 20), ["k"])


def _w_upsert(spark, root, tmp_path):
    from steel_datafusion_spark.sources.manifest import manifest_upsert

    _w_upsert_first(spark, root, tmp_path)
    _assert_schema_recorded(spark, root)
    manifest_upsert(spark, root, _wide(spark, 10, 30), ["k"])


def _w_upsert_partitioned(spark, root, tmp_path):
    """The second upsert adds partition directory p=2."""
    from steel_datafusion_spark.sources.manifest import manifest_upsert

    manifest_upsert(spark, root, _wide(spark, 0, 20), ["k"],
                    partition_by=["p"])
    _assert_schema_recorded(spark, root)
    manifest_upsert(spark, root, _wide(spark, 30, 35, lambda i: "2"),
                    ["k"], partition_by=["p"])


def _w_upsert_evolution(spark, root, tmp_path):
    from steel_datafusion_spark.sources.manifest import manifest_upsert

    _w_upsert_first(spark, root, tmp_path)
    manifest_upsert(spark, root, _wide(spark, 5, 8)
                    .withColumn("extra", F.lit(1.5)), ["k"],
                    schema_evolution=True)


def _w_merge(spark, root, tmp_path):
    from steel_datafusion_spark.sources.manifest import manifest_merge

    _w_upsert_first(spark, root, tmp_path)
    manifest_merge(spark, root, _wide(spark, 10, 30), ["k"])


def _w_delete(spark, root, tmp_path):
    from steel_datafusion_spark.sources.manifest import (
        manifest_delete, manifest_upsert,
    )

    manifest_upsert(spark, root, _wide(spark, 0, 20), ["k"],
                    partition_by=["p"])
    manifest_delete(spark, root, _wide(spark, 0, 3), ["k"],
                    partition_by=["p"])


def _w_compact(spark, root, tmp_path):
    from steel_datafusion_spark.sources.manifest import (
        compact_table, latest_commit, manifest_upsert,
    )

    manifest_upsert(spark, root, _wide(spark, 0, 40).repartition(8),
                    ["k"], partition_by=["p"])
    v = latest_commit(root)[0]
    assert compact_table(spark, root, target_bytes=1 << 20) == v + 1


def _w_compact_zorder(spark, root, tmp_path):
    from steel_datafusion_spark.sources.manifest import (
        compact_table, latest_commit, manifest_upsert,
    )

    manifest_upsert(spark, root, _wide(spark, 0, 40).repartition(8),
                    ["k"])
    v = latest_commit(root)[0]
    assert compact_table(spark, root, target_bytes=1 << 20,
                         zorder_by=["k"]) == v + 1


def _w_alter(spark, root, tmp_path):
    from steel_datafusion_spark.sources.manifest import (
        alter_table_constraints, manifest_upsert,
    )

    manifest_upsert(spark, root, _wide(spark, 0, 20), ["k"],
                    partition_by=["p"])
    alter_table_constraints(spark, root, add={"k_pos": "k >= 0"})


def _w_stream_append(spark, root, tmp_path):
    from steel_datafusion_spark.streaming.operators import (
        streaming_append_table,
    )

    src = str(tmp_path / "src")
    rows = _wide(spark, 0, 20)
    rows.repartition(2).write.parquet(src)
    streaming_append_table(spark, src, rows.schema, root,
                           str(tmp_path / "work"), max_files_per_trigger=1)


def _w_view(spark, root, tmp_path):
    from steel_datafusion_spark.streaming.operators import (
        streaming_view_maintenance,
    )

    src = str(tmp_path / "src")
    rows = spark.createDataFrame([(i % 3, float(i)) for i in range(30)],
                                 "k int, v double")
    rows.repartition(2).write.parquet(src)
    streaming_view_maintenance(spark, src, rows.schema, ["k"], "v", root,
                               max_files_per_trigger=1)
    return os.path.join(root, "view")


def _w_reset_delta(spark, root, tmp_path):
    from steel_datafusion_spark.sources.index_tables import reset_delta

    _w_upsert_first(spark, root, tmp_path)
    reset_delta(spark, root, "budget_index")


_WRITERS = {
    "upsert_first": _w_upsert_first, "upsert": _w_upsert,
    "upsert_partitioned_new_value": _w_upsert_partitioned,
    "upsert_schema_evolution": _w_upsert_evolution, "merge": _w_merge,
    "delete_partitioned": _w_delete, "compact_partitioned": _w_compact,
    "compact_zorder": _w_compact_zorder, "alter_constraints": _w_alter,
    "streaming_append": _w_stream_append, "streaming_view": _w_view,
    "reset_delta": _w_reset_delta,
}


@pytest.mark.parametrize("writer", sorted(_WRITERS))
def test_commit_records_inferred_schema(spark, tmp_path, writer):
    """Every writer records ``meta["schema"]`` equal to Spark's own
    inference over the version it committed — nested types, INT96
    timestamps and inferred partition column types included — and the
    table reads back with that schema."""
    from steel_datafusion_spark.sources.manifest import (
        latest_commit_info, read_table,
    )

    root = _WRITERS[writer](spark, str(tmp_path / "t"), tmp_path) \
        or str(tmp_path / "t")
    _assert_schema_recorded(spark, root)
    df = read_table(spark, root)
    assert df.schema.json() == latest_commit_info(root)["meta"]["schema"]
    assert df.count() >= 0


def test_pruned_read_keeps_version_partition_types(spark, tmp_path):
    """A pruned read keeps the version's partition column types even when
    its surviving files alone would infer another: p holds "1" and "x",
    so it is a string column, and the read of p=1 alone stays string."""
    from pyspark.sql.types import StringType

    from steel_datafusion_spark.sources.manifest import (
        manifest_upsert, read_table,
    )

    root = str(tmp_path / "t")
    manifest_upsert(spark, root, _wide(spark, 0, 20,
                                       lambda i: "x" if i % 2 else "1"),
                    ["k"], partition_by=["p"])
    _assert_schema_recorded(spark, root)
    pruned = read_table(spark, root, where=[("p", "=", "1")])
    assert len(pruned.inputFiles()) < len(read_table(spark, root)
                                          .inputFiles())
    assert isinstance(pruned.schema["p"].dataType, StringType)
    assert sorted(r.k for r in pruned.collect()) == list(range(0, 20, 2))


def test_read_table_keeps_spark_timestamps(spark, tmp_path):
    """A table with a timestamp column (Spark writes INT96, which pyarrow
    reports as nanoseconds) reads back as timestamps, pruned or not."""
    import datetime as _dt

    from steel_datafusion_spark.sources.manifest import (
        manifest_upsert, read_table,
    )

    root = str(tmp_path / "t")
    manifest_upsert(spark, root, _wide(spark, 0, 20), ["k"],
                    stats_cols=["k"])
    got = {r.k: r.ts for r in read_table(spark, root).collect()}
    assert got[3] == _dt.datetime(2024, 1, 4)
    pruned = read_table(spark, root, where=[("k", "=", 3)])
    assert [r.ts for r in pruned.collect()] == [_dt.datetime(2024, 1, 4)]


def test_version_without_recorded_schema_still_reads(spark, tmp_path):
    """A version committed before schemas were recorded (its commit meta
    has no ``schema``; this test deletes the key from the commit files
    on purpose) reads through inference with the same rows and schema
    in every ``read_table`` form, and the next upsert records one."""
    import time as _time

    from steel_datafusion_spark.sources.manifest import (
        latest_commit_info, manifest_upsert, read_table,
        write_table_bloom,
    )
    from steel_datafusion_spark.sources.readers import read_parquet

    root = str(tmp_path / "t")
    df = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("p"),
        F.md5(F.col("id").cast("string")).alias("uid"))
    manifest_upsert(spark, root, df.repartitionByRange(4, "k"), ["k"],
                    partition_by=["p"], stats_cols=["k"], keep_versions=10)
    write_table_bloom(spark, root, ["uid"], bits=1 << 12)
    as_of = _time.time()
    _time.sleep(0.05)
    manifest_upsert(spark, root, df.filter(F.col("k") < 30)
                    .withColumn("uid", F.lit("changed")), ["k"],
                    partition_by=["p"], keep_versions=10)
    uid = df.filter(F.col("k") == 777).head().uid
    reads = {
        "newest": lambda: read_table(spark, root),
        "version": lambda: read_table(spark, root, version=1),
        "as_of": lambda: read_table(spark, root, as_of=as_of),
        "some": lambda: read_table(spark, root, where=[("k", "<", 100)]),
        "all": lambda: read_table(spark, root, where=[("k", ">=", 0)]),
        "none": lambda: read_table(spark, root, where=[("k", "<", 0)]),
        "bloom": lambda: read_table(spark, root, where=[("uid", "=", uid)]),
        "part": lambda: read_table(spark, root, where=[("p", "=", 1)]),
        "read_parquet": lambda: read_parquet(spark, root),
    }

    def snapshot():
        return {name: (fn().schema.json(), sorted(map(tuple,
                                                      fn().collect())))
                for name, fn in reads.items()}

    before = snapshot()
    cdir = os.path.join(root, "_commits")
    for f in os.listdir(cdir):
        if f.startswith("v") and f.endswith(".json"):
            with open(os.path.join(cdir, f)) as fh:
                payload = json.load(fh)
            assert payload["meta"].pop("schema")
            with open(os.path.join(cdir, f), "w") as fh:
                json.dump(payload, fh)
    assert "schema" not in latest_commit_info(root)["meta"]
    assert snapshot() == before
    manifest_upsert(spark, root, df.filter(F.col("k") == 5), ["k"],
                    partition_by=["p"], keep_versions=10)
    _assert_schema_recorded(spark, root)

"""The one lifecycle of the persisted index tables
(``sources/index_tables.py``), over both indexes:

1. a rebuild under an old name resets the whole index — no swap of the
   old index survives it, and the new txn log starts at 1;
2. fault injection: a crash after each step of every ``swap_table`` the
   maintenance verbs run — the base drop's rename aside included —
   leaves an index that ``attach_*`` + a probe (or, for compaction, a
   re-run of the verb) brings back to the no-crash result, with no
   hidden directory left behind.
"""

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR

FLOOD = "common boilerplate header repeated verbatim across pages"


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _flood(spark, lo, hi):
    return spark.createDataFrame([(i, FLOOD) for i in range(lo, hi)],
                                 "doc_id long, text string")


def _drop_index(spark, name, tables):
    """Drop an index's tables, their swaps and its txn log."""
    import shutil

    from steel_datafusion_spark.sources.bucketing import (
        _warehouse_path, drop_managed_table,
    )

    for t in tables:
        for suffix in ("", "_swap", "_cswap"):
            drop_managed_table(spark, f"{name}_{t}{suffix}")
    shutil.rmtree(_warehouse_path(spark, f"{name}__idxtxn"),
                  ignore_errors=True)


DEDUP = ("bands", "shingles", "meta", "hot")
ANN = ("centroids", "assign", "meta")


def test_dedup_rebuild_resets_whole_index(spark):
    """A rebuild drops the old index's swap tables and txn log.  Without
    that, a hot swap left by a crashed append of the OLD capped index
    was restored over the NEW uncapped one by the next probe (1 match
    where a clean build gives 8), and the rebuilt index's first append
    continued the old txn log."""
    from steel_datafusion_spark.pipeline.dedup import (
        build_dedup_index, dedup_against_index, dedup_index_append,
    )

    name = "ixrb"
    _drop_index(spark, name, DEDUP)
    try:
        build_dedup_index(_flood(spark, 0, 4), name, n_buckets=2,
                          max_bucket=6)
        dedup_index_append(_flood(spark, 100, 108), name)
        # a crashed hot swap: the swap is present, the hot table dropped
        spark.table(f"{name}_hot").write.saveAsTable(f"{name}_hot_swap")
        spark.sql(f"DROP TABLE `{name}_hot`")
        build_dedup_index(_flood(spark, 0, 8), name, n_buckets=2,
                          max_bucket=None)
        assert not spark.catalog.tableExists(f"{name}_hot_swap")
        probe = spark.createDataFrame([(999999, FLOOD)],
                                      "doc_id long, text string")
        assert len(_rows(dedup_against_index(probe, name))) == 8
        r = dedup_index_append(_flood(spark, 200, 201), name)
        assert r["txn"] == 1
    finally:
        _drop_index(spark, name, DEDUP)


def test_ann_rebuild_restarts_txn_log(spark):
    from steel_datafusion_spark.pipeline.similarity import (
        ann_index_append, build_ann_index,
    )

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = e.filter(F.col("vec_id") < 200)
    batch = e.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 220))
    name = "annrb"
    _drop_index(spark, name, ANN)
    try:
        build_ann_index(base, name, nlist=4, n_buckets=2)
        assert ann_index_append(batch, name)["txn"] == 1
        build_ann_index(base, name, nlist=4, n_buckets=2)
        assert ann_index_append(batch, name)["txn"] == 1
    finally:
        _drop_index(spark, name, ANN)


def test_writes_keep_the_build_layout(spark, tmp_path):
    """Every write after the build reads the table's layout back from
    its catalog entry: a swap, an append and a delta absorb keep the
    bucket columns, bucket count and sort columns (and an unbucketed
    table stays unbucketed); the bucketed-only writes refuse an
    unbucketed table."""
    from steel_datafusion_spark.sources.bucketing import (
        drop_managed_table, write_bucketed,
    )
    from steel_datafusion_spark.sources.index_tables import (
        _layout, absorb_delta, append_rows, swap_table,
    )
    from steel_datafusion_spark.sources.manifest import manifest_upsert

    b, u = "ixlay_b", "ixlay_u"
    rows = spark.range(6).selectExpr("id AS a", "id % 2 AS b")
    for t in (b, u):
        drop_managed_table(spark, t)
    try:
        write_bucketed(rows, b, ["a"], 3, sort_cols=["b", "a"])
        rows.write.saveAsTable(u)
        layout = (["a"], 3, ["b", "a"])
        assert (_layout(spark, b), _layout(spark, u)) == (layout, None)

        swap_table(spark, b, spark.table(b).filter("a < 4"))
        append_rows(spark, b, rows.filter("a >= 4"))
        delta = str(tmp_path / "delta")
        manifest_upsert(spark, delta, rows.filter("a >= 3"), ["a"])
        assert absorb_delta(spark, b, delta, ["a"]).count() == 3
        assert _layout(spark, b) == layout
        assert sorted(r.a for r in spark.table(b).collect()) == \
            list(range(6))

        swap_table(spark, u, spark.table(u).limit(2))
        assert _layout(spark, u) is None
        assert spark.table(u).count() == 2
        with pytest.raises(ValueError, match="not a bucketed table"):
            append_rows(spark, u, rows)
        with pytest.raises(ValueError, match="not a bucketed table"):
            absorb_delta(spark, u, delta, ["a"])
    finally:
        for t in (b, u):
            drop_managed_table(spark, t)


def test_drop_raises_when_the_rename_aside_fails(spark, monkeypatch):
    """The drop renames the table's directory aside before anything
    else; when that rename fails, the drop raises and leaves the table
    whole instead of hiding the failure."""
    from steel_datafusion_spark.sources import bucketing

    t = "ixdrop"
    bucketing.drop_managed_table(spark, t)
    spark.range(5).write.saveAsTable(t)
    try:
        with monkeypatch.context() as m:
            def fail(src, dst):
                raise OSError("rename refused")
            m.setattr(bucketing.os, "rename", fail)
            with pytest.raises(OSError, match="rename refused"):
                bucketing.drop_managed_table(spark, t)
        assert spark.table(t).count() == 5
    finally:
        bucketing.drop_managed_table(spark, t)


# --------------------------------------------------------------------------
# fault injection

class _Crash(Exception):
    """The injected crash."""


# raise after: the swap is written / the base directory is renamed aside
# (its catalog entry not yet dropped, the hidden directory not yet
# deleted) / the base table is dropped / the swap is renamed.
# swap_table's first step drops a stale swap, which on a clean index
# changes nothing: a crash after it is the state before the swap, which
# the "written" case (less the swap table) already covers
STEPS = ["written", "aside", "dropped", "renamed"]
# the swaps each maintenance verb runs, in order
SWAPS = {"dedup_append": ["hot"],
         "dedup_compact": ["bands", "shingles", "hot"],
         "ann_append": ["meta"],
         "ann_compact": ["assign"]}


@pytest.fixture(scope="module")
def templates(spark, tmp_path_factory):
    """One small index of each kind plus its streaming delta, built once;
    every case restores a copy (``_Case``)."""
    from steel_datafusion_spark.pipeline.dedup import (
        _banded_table, _hashed_shingles, build_dedup_index,
    )
    from steel_datafusion_spark.pipeline.similarity import (
        build_ann_index, ivf_assign,
    )
    from steel_datafusion_spark.streaming.operators import _append_commit

    work = tmp_path_factory.mktemp("fi_templates")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text").filter(F.col("doc_id") < 40)
    dd_batch = docs.filter(F.col("doc_id") % 2 == 1) \
        .unionByName(_flood(spark, 10**6 + 100, 10**6 + 108))
    build_dedup_index(docs.filter(F.col("doc_id") % 2 == 0)
                      .unionByName(_flood(spark, 10**6, 10**6 + 4)),
                      "fi_dedup", n_buckets=2, max_bucket=6)
    hb = _hashed_shingles(dd_batch, "doc_id", "text", 3)
    for d, df in (("delta_bands", _banded_table(hb, 32, 8, 4)),
                  ("delta_shingles", hb)):
        _append_commit(spark, str(work / "dedup" / d), "fault", 0,
                       lambda df=df: df.withColumnRenamed(
                           "doc_id", "corpus_id"))
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet") \
        .filter(F.col("vec_id") < 240)
    ann_batch = e.filter(F.col("vec_id") >= 200)
    build_ann_index(e.filter(F.col("vec_id") < 200), "fi_ann", nlist=4,
                    n_buckets=2)
    cols = spark.table("fi_ann_assign").columns
    _c, a = ivf_assign(ann_batch, nlist=4,
                       centroids=spark.table("fi_ann_centroids"))
    _append_commit(spark, str(work / "ann" / "delta"), "fault", 0,
                   lambda: a.select(*cols))
    dd_probe = docs.filter(F.col("doc_id") < 10) \
        .select((F.col("doc_id") + 5 * 10**6).alias("doc_id"),
                F.concat("text", F.lit(" probe")).alias("text")) \
        .unionByName(_flood(spark, 9 * 10**6, 9 * 10**6 + 1))
    ann_probe = e.filter(F.col("vec_id") % 50 == 7)
    yield {k: (spark.createDataFrame(b.collect(), b.schema),
               spark.createDataFrame(q.collect(), q.schema), str(work / k))
           for k, b, q in (("dedup", dd_batch, dd_probe),
                           ("ann", ann_batch, ann_probe))}
    _drop_index(spark, "fi_dedup", DEDUP)
    _drop_index(spark, "fi_ann", ANN)


class _Case:
    """A fresh copy of a template index (tables re-attached, delta roots
    copied) under its own name, with the verb and probe to run on it."""

    def __init__(self, spark, templates, verb, name, work):
        import shutil

        from steel_datafusion_spark.sources.bucketing import (
            _warehouse_path, attach_table,
        )

        self.spark, self.verb, self.name, self.work = spark, verb, name, work
        self.kind = verb.split("_")[0]
        self.tables = DEDUP if self.kind == "dedup" else ANN
        self.batch, self.query, delta = templates[self.kind]
        _drop_index(spark, name, self.tables)
        for t in self.tables:
            shutil.copytree(_warehouse_path(spark, f"fi_{self.kind}_{t}"),
                            _warehouse_path(spark, f"{name}_{t}"))
            assert attach_table(spark, f"{name}_{t}")
        shutil.copytree(delta, work, dirs_exist_ok=True)

    def run(self):
        import os

        from steel_datafusion_spark.pipeline import dedup, similarity

        spark, name = self.spark, self.name
        if self.verb == "dedup_append":
            return dedup.dedup_index_append(self.batch, name)
        if self.verb == "dedup_compact":
            return dedup.dedup_index_compact(spark, name, self.work)
        if self.verb == "ann_append":
            return similarity.ann_index_append(self.batch, name)
        return similarity.ann_index_compact(
            spark, name, os.path.join(self.work, "delta"))

    def attach(self):
        from steel_datafusion_spark.pipeline.dedup import attach_dedup_index
        from steel_datafusion_spark.pipeline.similarity import (
            attach_ann_index,
        )

        attach = attach_dedup_index if self.kind == "dedup" \
            else attach_ann_index
        assert attach(self.spark, self.name)

    def probe(self):
        if self.kind == "dedup":
            from steel_datafusion_spark.pipeline.dedup import (
                dedup_against_index,
            )

            return _rows(dedup_against_index(self.query, self.name,
                                             threshold=0.5))
        from steel_datafusion_spark.pipeline.similarity import (
            ivf_topk_index,
        )

        return _rows(ivf_topk_index(self.query, self.name, k=5, nprobe=2))

    def snapshot(self, tables=None):
        """Each table as a reader sees it (``index_table``)."""
        from steel_datafusion_spark.sources.index_tables import index_table

        return {t: _rows(index_table(self.spark, f"{self.name}_{t}"))
                for t in (tables or self.tables)}

    def delta_rows(self):
        import glob

        from steel_datafusion_spark.sources.manifest import read_table

        return sum(read_table(self.spark, r).count()
                   for r in glob.glob(f"{self.work}/delta*"))

    def hidden_dirs(self):
        """The hidden directories dropped tables of the index left."""
        import glob
        import os

        from steel_datafusion_spark.sources.bucketing import _warehouse_path

        return glob.glob(os.path.join(os.path.dirname(
            _warehouse_path(self.spark, self.name)), f".{self.name}_*"))

    def txn_verbs(self):
        from steel_datafusion_spark.sources.locking import index_txns

        return [t["meta"]["verb"] for t in index_txns(self.spark, self.name)]

    def crash(self, monkeypatch, table, step):
        """Run the verb, raising _Crash right after ``step`` of the swap
        of ``table``."""
        from steel_datafusion_spark.pipeline import dedup, similarity
        from steel_datafusion_spark.sources import bucketing, index_tables

        target = f"{self.name}_{table}"
        with monkeypatch.context() as m:
            if step == "renamed":
                real_swap = index_tables.swap_table

                def swap(spark, t, df):
                    real_swap(spark, t, df)
                    if t == target:
                        raise _Crash(t)
                # the compactions swap inside index_tables (absorb_delta);
                # the hot and meta rewrites call the verb module's import
                for mod in (index_tables, dedup, similarity):
                    m.setattr(mod, "swap_table", swap)
            elif step == "aside":
                real_aside = bucketing._rename_aside

                def aside(spark, t):
                    out = real_aside(spark, t)
                    if t == target:
                        raise _Crash(t)  # base dir hidden, entry kept
                    return out
                m.setattr(bucketing, "_rename_aside", aside)
            else:
                real_drop = index_tables.drop_managed_table

                def drop(spark, t):
                    if t == target and step == "written":
                        raise _Crash(t)  # swap written, base still there
                    real_drop(spark, t)
                    if t == target and step == "dropped":
                        raise _Crash(t)
                m.setattr(index_tables, "drop_managed_table", drop)
            with pytest.raises(_Crash):
                self.run()

    def drop(self):
        _drop_index(self.spark, self.name, self.tables)


@pytest.fixture(scope="module")
def no_crash(spark, templates, tmp_path_factory):
    """verb -> the verb's index and probe rows without a crash."""
    memo: dict = {}

    def get(verb):
        if verb not in memo:
            case = _Case(spark, templates, verb, f"fi_{verb}_ref",
                         str(tmp_path_factory.mktemp(f"ref_{verb}")))
            try:
                case.run()
                memo[verb] = case.snapshot(), case.probe()
            finally:
                case.drop()
        return memo[verb]
    return get


@pytest.mark.parametrize("step", STEPS)
@pytest.mark.parametrize("verb", ["dedup_append", "ann_append"])
def test_append_swap_crash_recovers(spark, templates, no_crash, tmp_path,
                                    monkeypatch, verb, step):
    """An append verb crashed after each step of its swap (dedup: the
    hot table; ANN: the meta rewrite of the first append).  Before the
    base drop the unfinished swap changes nothing; from the base drop
    on, a reader sees the complete swap, and attach + a probe give the
    no-crash result."""
    want, want_probe = no_crash(verb)
    (table,) = SWAPS[verb]
    case = _Case(spark, templates, verb, f"fi_{verb}_{step}", str(tmp_path))
    try:
        before = case.snapshot([table])
        case.crash(monkeypatch, table, step)
        assert case.txn_verbs() == []  # the crashed verb logged nothing
        if step == "written":
            assert case.snapshot([table]) == before
            return
        assert case.snapshot([table]) == {table: want[table]}
        case.attach()
        assert not spark.catalog.tableExists(f"{case.name}_{table}_swap")
        assert case.hidden_dirs() == []
        assert case.snapshot() == want
        assert case.probe() == want_probe
    finally:
        case.drop()


@pytest.mark.parametrize("verb", ["dedup_compact", "ann_compact"])
def test_compact_swap_crashes_converge(spark, templates, no_crash, tmp_path,
                                       monkeypatch, verb):
    """A compaction crashed after each step of each of its swaps, in
    order, every re-run crashing one step later than the last: after
    each crash, attach restores every table already swapped to its
    no-crash rows (a reader sees them even before the attach), and the
    final, uncrashed re-run leaves the no-crash index with an empty
    delta.  After a crash in the verb's last swap, attach + a probe
    already give the no-crash result."""
    want, want_probe = no_crash(verb)
    case = _Case(spark, templates, verb, f"fi_{verb}", str(tmp_path))
    try:
        done: list[str] = []
        for table in SWAPS[verb]:
            for step in STEPS:
                case.crash(monkeypatch, table, step)
                if step == "written":
                    continue  # the base holds the rows it held before
                swapped = done + [table]
                expect = {t: want[t] for t in swapped}
                assert case.snapshot(swapped) == expect, (table, step)
                case.attach()
                assert case.snapshot(swapped) == expect, (table, step)
                assert case.hidden_dirs() == [], (table, step)
                if table == SWAPS[verb][-1]:
                    assert case.probe() == want_probe, (table, step)
            done.append(table)
        assert case.txn_verbs() == []
        case.run()
        assert case.snapshot() == want
        assert case.probe() == want_probe
        assert case.delta_rows() == 0
        assert case.txn_verbs() == [verb.replace("_", "_index_")]
    finally:
        case.drop()

"""``ingest`` workload: one batch of documents is curated, indexed for
near-duplicate probes, and a keyed table is driven through its commit
lifecycle with pruned reads in between.

One round runs, against fresh directories and index names:

- curation (``pipeline``, ``cache``): exact dedup -> decontamination
  against an eval set -> hash split -> token packing of the train split,
  under ``pipeline_cache_scope``, written as a split corpus and packed
  chunks;
- dedup index (``index``, ``streaming``): build on half the corpus ->
  streaming ingest of two crawl files -> compact -> probe;
- table (``manifest``, ``filestats``, ``streaming``): seed -> keyed
  upsert -> conditional merge -> delete -> streaming append of three
  files -> Z-order compaction -> vacuum, with a point read and a range read
  through ``read_table(where=...)`` after each commit and one time-travel
  read.

Every output is checked: the table against a DuckDB replay of the same
operations, the corpus and packing by plain Python and DuckDB, the index
probes against a direct computation and a plain-Python Jaccard.
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import datagen
from harness import ProgressListener, median, persisted_bytes
from steel_datafusion_spark.cache import pipeline_cache_scope, tracked_count
from steel_datafusion_spark.pipeline.curation import decontaminate
from steel_datafusion_spark.pipeline.dedup import (
    build_dedup_index, dedup_against_index, dedup_index_compact,
    exact_dedup, minhash_dedup_against,
)
from steel_datafusion_spark.pipeline.packing import pack_chunks
from steel_datafusion_spark.pipeline.sampling import hash_split
from steel_datafusion_spark.pipeline.text import bpe_ish_token_count
from steel_datafusion_spark.sources.manifest import (
    compact_table, latest_commit, manifest_delete, manifest_merge,
    manifest_upsert, read_table, vacuum,
)
from steel_datafusion_spark.sources.readers import read_parquet
from steel_datafusion_spark.streaming.operators import (
    streaming_append_table, streaming_dedup_ingest,
)

N_DOCS = 400
N_ROWS = 6000          # table seed rows
N_CHANGE = 400         # rows per upsert / merge / delete step
STREAM_FILES = 3
STREAM_ROWS = 300      # rows per streamed file
PACK_BUDGET = 512
SPLIT = {"train": 0.9, "val": 0.05, "test": 0.05}
DEDUP_THRESHOLD = 0.5
TABLE_COLS = "k long, c long, price double, status string"


class Ingest:
    def __init__(self, ctx):
        self.ctx = ctx
        rng = np.random.default_rng(ctx.seed)
        docs = datagen.make_documents(rng, N_DOCS)
        self.doc_path = ctx.path("data", "documents.parquet")
        os.makedirs(os.path.dirname(self.doc_path), exist_ok=True)
        pq.write_table(docs, self.doc_path)
        self.texts = dict(zip(docs.column("doc_id").to_pylist(),
                              docs.column("text").to_pylist()))
        self.eval_ids = [i for i in self.texts if i % 97 == 0]
        self.rows = self._table_rows(rng)
        self.listener = ProgressListener(ctx.spark)
        self.n = 0
        self.acc: dict[str, float] = {}
        self.commits: list[float] = []
        self.triggers: list[float] = []

    # ------------------------------------------------------------------
    # inputs
    # ------------------------------------------------------------------

    def _table_rows(self, rng) -> dict[str, list[tuple]]:
        """Seed rows, the change sets of each verb, and the streamed
        files, all drawn from the seed."""
        def rows(keys):
            keys = np.asarray(keys)
            return list(zip(
                keys.tolist(),
                rng.integers(0, 1500, len(keys)).tolist(),
                np.round(rng.uniform(1, 5000, len(keys)), 2).tolist(),
                [("F", "O", "P")[j] for j in rng.integers(0, 3, len(keys))]))
        seed_keys = rng.permutation(N_ROWS * 2)[:N_ROWS]
        live = np.array(sorted(seed_keys))
        new = np.arange(N_ROWS * 2, N_ROWS * 2 + 10 * N_CHANGE)
        half = N_CHANGE // 2
        return {
            "seed": rows(seed_keys),
            "upsert": rows(np.concatenate([rng.choice(live, half, False),
                                            new[:half]])),
            "merge": rows(np.concatenate([rng.choice(live, half, False),
                                          new[half:2 * half]])),
            "delete": [(int(k),) for k in rng.choice(live, N_CHANGE, False)],
            **{f"stream{i}": rows(new[(4 + i) * half:(5 + i) * half]
                                  [:STREAM_ROWS])
               for i in range(STREAM_FILES)},
        }

    # ------------------------------------------------------------------
    # helpers
    # ------------------------------------------------------------------

    def _add(self, key: str, value: float) -> None:
        self.acc[key] = self.acc.get(key, 0) + value

    def _timed(self, name: str, fn, *args, **kw):
        """Run ``fn`` inside a span named ``name``; returns (result, s)."""
        with self.ctx.tracer.span(name):
            t0 = time.perf_counter()
            out = fn(*args, **kw)
            dt = time.perf_counter() - t0
        return out, dt

    def round(self) -> dict:
        self.n += 1
        self.dir = self.ctx.path(f"round{self.n}")
        os.makedirs(self.dir)
        self.round_reads: dict[str, float] = {}
        ops = 0
        ops += self.curation()
        ops += self.dedup_index()
        ops += self.table()
        return {"attempted": ops, "failed": 0, "reads": self.round_reads}

    # ------------------------------------------------------------------
    # curation
    # ------------------------------------------------------------------

    def curation(self) -> int:
        spark, tr = self.ctx.spark, self.ctx.tracer
        held = []

        def stage(name, fn):
            out, _ = self._timed(f"pipeline.{name}", fn)
            if tr.enabled:
                held.append((tracked_count(spark), persisted_bytes(spark)))
            return out

        with pipeline_cache_scope(spark):
            docs = read_parquet(spark, self.doc_path)

            def s_exact():
                dup = exact_dedup(docs).filter(F.col("is_dup")) \
                    .select("doc_id")
                return docs.join(dup, "doc_id", "left_anti")
            kept = stage("exact_dedup", s_exact)

            def s_decon():
                ev = docs.filter(F.col("doc_id") % 97 == 0)
                bad = decontaminate(kept, ev, n=5, min_hits=3) \
                    .filter(F.col("contaminated")).select("doc_id")
                return kept.join(bad, "doc_id", "left_anti")
            kept = stage("decontaminate", s_decon)

            split = stage("split", lambda: hash_split(kept, SPLIT))

            def s_pack():
                train = split.filter(F.col("split") == "train") \
                    .withColumn("n_tok", bpe_ish_token_count(F.col("text")))
                return pack_chunks(train, group_cols=["source"],
                                   order_col="doc_id", token_col="n_tok",
                                   budget=PACK_BUDGET)
            packed = stage("pack", s_pack)

            corpus_dir = os.path.join(self.dir, "corpus")
            packed_dir = os.path.join(self.dir, "packed")

            def s_sink():
                split.select("doc_id", "text", "split", "source") \
                    .write.parquet(corpus_dir)
                packed.select("source", "doc_id", "n_tok", "tokens_before",
                              "bin_id").write.parquet(packed_dir)
            stage("sink", s_sink)
        if held:
            self._add("cache.barriers_held", max(h[0] for h in held))
            self._add("cache.persisted_bytes", max(h[1] for h in held))

        out = pq.read_table(corpus_dir).to_pylist()
        checks.check_curated(out, self.texts,
                             [self.texts[i] for i in self.eval_ids],
                             split_labels(corpus_dir))
        checks.check_packed(pq.read_table(packed_dir).to_pylist(),
                            self.texts, {r["doc_id"] for r in out
                             if r["split"] == "train"}, PACK_BUDGET)
        return 5

    # ------------------------------------------------------------------
    # dedup index
    # ------------------------------------------------------------------

    def dedup_index(self) -> int:
        spark = self.ctx.spark
        name = f"bench_dd_r{self.n}"
        work = os.path.join(self.dir, "dd_work")
        d = read_parquet(spark, self.doc_path).select("doc_id", "text")
        base = d.filter(F.col("doc_id") % 2 == 0)
        self._timed("index.dedup.build", build_dedup_index, base, name)

        # two crawl files: near-copies of early documents
        crawl = os.path.join(self.dir, "crawl")
        os.makedirs(crawl)
        crawl_texts = {}
        for f, (off, lim) in enumerate(((1_000_000, 20), (2_000_000, 10))):
            ids = [i + off for i in range(lim)]
            txt = [self.texts[i] + " crawl dup" for i in range(lim)]
            crawl_texts.update(zip(ids, txt))
            pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                     "text": txt}),
                           os.path.join(crawl, f"part-{f}.parquet"))
        schema = "doc_id long, text string"
        matches = self._stream("index.dedup.ingest", lambda: (
            streaming_dedup_ingest(spark, crawl, schema, name, work)
            .collect()))

        probe_texts = {i + 3_000_000: self.texts[i] + " crawl dup"
                       for i in range(8)}
        probe = spark.createDataFrame(list(probe_texts.items()), schema)
        grown = base.unionByName(spark.read.parquet(crawl))
        want = [tuple(r) for r in minhash_dedup_against(
            probe, grown, threshold=DEDUP_THRESHOLD).collect()]
        self._timed("index.dedup.compact", dedup_index_compact, spark, name,
                    work)
        got, _ = self._timed("index.dedup.probe", lambda: [
            tuple(r) for r in dedup_against_index(
                probe, name, threshold=DEDUP_THRESHOLD).collect()])
        checks.check_same_rows(got, want, "post-compact dedup probe")
        texts = {**self.texts, **crawl_texts, **probe_texts}
        checks.check_pairs_jaccard(got, texts, DEDUP_THRESHOLD)
        checks.check_pairs_jaccard([tuple(r) for r in matches], texts,
                                   DEDUP_THRESHOLD)
        checks.require(len(got) > 0, "dedup probe found no near-copy")
        return 4

    def _stream(self, name: str, fn):
        """Run a stream drive inside span ``name`` and add its progress
        events to the streaming metrics.  The drive's micro-batch jobs run
        on the query's own thread, whose job group is the query's run id,
        not the span's; the run ids the listener saw start are handed to
        the span so that those jobs are attributed to it."""
        n_started = len(self.listener.started)
        n_events = len(self.listener.events)
        with self.ctx.tracer.span(name) as rec:
            out = fn()
        self._stream_metrics(n_events)
        if rec is not None:
            rec["job_groups"] = self.listener.started[n_started:]
        return out

    def _stream_metrics(self, since: int) -> None:
        """Streaming metrics of the progress events after ``since``.  The
        listener is called from the listener bus, so drain it first; a
        trigger that found no new data reports no ``addBatch`` time and is
        not counted."""
        self.ctx.store.drain()
        ev = [e for e in self.listener.events[since:]
              if "addBatch" in e["duration_ms"]]
        self._add("streaming.triggers", len(ev))
        self._add("streaming.rows", sum(e["rows"] for e in ev))
        for key, metric in (("addBatch", "add_batch_ms"),
                            ("queryPlanning", "query_planning_ms"),
                            ("walCommit", "wal_commit_ms"),
                            ("latestOffset", "latest_offset_ms")):
            self._add(f"streaming.{metric}",
                      sum(e["duration_ms"].get(key, 0) for e in ev))
        self.triggers += [e["duration_ms"]["triggerExecution"] for e in ev]

    # ------------------------------------------------------------------
    # table
    # ------------------------------------------------------------------

    def table(self) -> int:
        spark, R = self.ctx.spark, self.rows
        root = os.path.join(self.dir, "table")
        db = duckdb.connect()
        db.execute("CREATE TABLE t (k BIGINT, c BIGINT, price DOUBLE, "
                   "status VARCHAR)")
        self.db, self.root = db, root
        self.inodes: set[int] = set()

        def df(rows):
            return spark.createDataFrame(rows, TABLE_COLS)

        def replay_upsert(rows):
            db.register("u", self._arrow(rows))
            db.execute("DELETE FROM t WHERE k IN (SELECT k FROM u)")
            db.execute("INSERT INTO t SELECT * FROM u")
            db.unregister("u")

        commits = [
            ("seed", lambda: manifest_upsert(
                spark, root, df(R["seed"]), ["k"], keep_versions=10,
                stats_cols=["k", "price"]),
             lambda: replay_upsert(R["seed"])),
            ("upsert", lambda: manifest_upsert(
                spark, root, df(R["upsert"]), ["k"], keep_versions=10),
             lambda: replay_upsert(R["upsert"])),
            ("merge", lambda: manifest_merge(
                spark, root, df(R["merge"]), ["k"],
                when_matched_update="src.price > tgt.price",
                keep_versions=10),
             lambda: self._replay_merge(R["merge"])),
            ("delete", lambda: manifest_delete(
                spark, root, spark.createDataFrame(R["delete"], "k long"),
                ["k"], keep_versions=10),
             lambda: db.execute("DELETE FROM t WHERE k IN ("
                                + ",".join(str(r[0]) for r in R["delete"])
                                + ")")),
        ]
        ops = 0
        for verb, run, replay in commits:
            _, dt = self._timed(f"manifest.{verb}", run)
            self.commits.append(dt)
            replay()
            ops += 1 + self._after_commit()

        # streaming append: three files, one committed version per batch
        src = os.path.join(self.dir, "stream_src")
        os.makedirs(src)
        before = db.execute("SELECT count(*) FROM t").fetchone()[0]
        for i in range(STREAM_FILES):
            rows = R[f"stream{i}"]
            pq.write_table(self._arrow(rows),
                           os.path.join(src, f"part-{i}.parquet"))
            replay_upsert(rows)
        n_src = pq.ParquetDataset(src).read().num_rows
        gained = db.execute("SELECT count(*) FROM t").fetchone()[0] - before
        n_events = len(self.listener.events)
        self._stream("manifest.stream_append", lambda: streaming_append_table(
            spark, src, TABLE_COLS, root, os.path.join(self.dir, "sa_work"),
            max_files_per_trigger=1))
        listener_rows = sum(
            e["rows"] for e in self.listener.events[n_events:])
        # the snapshot check in _after_commit shows the table holds the
        # replayed rows, so it gained exactly ``gained``
        ops += 1 + self._after_commit()
        checks.check_stream_rows(listener_rows, n_src, gained)

        pre_compact = latest_commit(root)[0]
        want_pre = self._snapshot_db()
        _, dt = self._timed("manifest.compact", lambda: compact_table(
            spark, root, target_bytes=32 << 10, keep_versions=10,
            zorder_by=["k", "price"]))
        self.commits.append(dt)
        ops += 1 + self._after_commit()
        # time travel to the version before compaction
        tbl, dt = self._timed("read", lambda: read_table(
            spark, root, version=pre_compact).toArrow())
        self.round_reads["time_travel"] = dt
        checks.check_same_table(checks.canon_table(tbl), want_pre,
                                "time-travel read")
        self._timed("manifest.vacuum", vacuum, root, keep=1)
        ops += 2
        if self.ctx.tracer.enabled:
            self._add("manifest.table_bytes", self._live_bytes(root))
        db.close()
        return ops

    @staticmethod
    def _arrow(rows) -> pa.Table:
        k, c, price, status = zip(*rows)
        return pa.table({"k": pa.array(k, pa.int64()),
                         "c": pa.array(c, pa.int64()),
                         "price": pa.array(price, pa.float64()),
                         "status": pa.array(status, pa.string())})

    def _replay_merge(self, rows) -> None:
        """MERGE: a matched row takes the source row when the source
        price is higher, else stays; unmatched source rows are inserted."""
        db = self.db
        db.register("s", self._arrow(rows))
        db.execute("DELETE FROM t USING s WHERE t.k = s.k "
                   "AND s.price > t.price")
        db.execute("INSERT INTO t SELECT s.* FROM s "
                   "WHERE s.k NOT IN (SELECT k FROM t)")
        db.unregister("s")

    def _snapshot_db(self):
        return checks.canon_table(
            self.db.execute("SELECT * FROM t").fetch_arrow_table())

    def _after_commit(self) -> int:
        """Check the snapshot against the replay, then make one point read
        and one range read through the pruned path; returns reads made."""
        spark, root, db = self.ctx.spark, self.root, self.db
        # the newest version's data dir holds exactly its live files; read
        # them with pyarrow, not through the package's reader
        checks.check_same_table(
            checks.canon_table(pq.read_table(latest_commit(root)[1])),
            self._snapshot_db(), "table snapshot")
        if self.ctx.tracer.enabled:
            self._count_files(root)
        keys = [r[0] for r in db.execute(
            "SELECT k FROM t ORDER BY k").fetchall()]
        k = keys[len(keys) // 3]
        i = len(self.round_reads) // 2
        lo = 1000.0 + 20 * i
        preds = [(f"point{i}", [("k", "=", k)], f"k = {k}"),
                 (f"range{i}", [("price", ">=", lo), ("price", "<", lo + 50)],
                  f"price >= {lo} AND price < {lo + 50}")]
        for label, where, sql in preds:
            t0 = time.perf_counter()
            with self.ctx.tracer.span("read"):
                with self.ctx.tracer.span("filestats.prune"):
                    d = read_table(spark, root, where=where)
                tp = time.perf_counter() - t0
                tbl = d.toArrow()
            self.round_reads[label] = time.perf_counter() - t0
            if self.ctx.tracer.enabled:
                self._add("filestats.prune_s", tp)
                self._add("filestats.files_opened", len(d.inputFiles()))
                self._add("filestats.files_live",
                          len(read_table(spark, root).inputFiles()))
            want = checks.canon_table(db.execute(
                f"SELECT * FROM t WHERE {sql}").fetch_arrow_table())
            checks.check_same_table(checks.canon_table(tbl), want,
                                    f"pruned read {where}")
        return len(preds)

    def _count_files(self, root: str) -> None:
        """Files of the newest version: new inodes are written, inodes
        already seen in an earlier version are hardlinked."""
        data_dir = latest_commit(root)[1]
        for dirpath, _dirs, files in os.walk(data_dir):
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                st = os.stat(os.path.join(dirpath, f))
                if st.st_ino in self.inodes:
                    self._add("manifest.files_linked", 1)
                else:
                    self.inodes.add(st.st_ino)
                    self._add("manifest.files_written", 1)
                    self._add("manifest.bytes_written", st.st_size)

    def _live_bytes(self, root: str) -> int:
        seen, total = set(), 0
        for dirpath, _dirs, files in os.walk(latest_commit(root)[1]):
            for f in files:
                st = os.stat(os.path.join(dirpath, f))
                if st.st_ino not in seen:
                    seen.add(st.st_ino)
                    total += st.st_size
        return total

    # ------------------------------------------------------------------
    # per-layer report
    # ------------------------------------------------------------------

    def layers(self, rounds: int) -> dict:
        tr = self.ctx.tracer
        out = {k: v / rounds for k, v in self.acc.items()}
        stages = ("exact_dedup", "decontaminate", "split",
                  "pack", "sink")
        for s in stages:
            out[f"pipeline.{s}.s"] = tr.total(f"pipeline.{s}") / rounds
            out[f"pipeline.{s}.jobs"] = \
                tr.total(f"pipeline.{s}", "jobs") / rounds
        for v in ("build", "ingest", "compact", "probe"):
            out[f"index.dedup.{v}.s"] = tr.total(f"index.dedup.{v}") / rounds
            out[f"index.dedup.{v}.jobs"] = \
                tr.total(f"index.dedup.{v}", "jobs") / rounds
        for v in ("seed", "upsert", "merge", "delete", "stream_append",
                  "compact", "vacuum"):
            out[f"manifest.{v}.s"] = tr.total(f"manifest.{v}") / rounds
        out["manifest.commit_p50_s"] = median(self.commits)
        out["streaming.trigger_p50_ms"] = median(self.triggers)
        live = self.acc.get("filestats.files_live", 0)
        out["filestats.skip_ratio"] = (
            1 - self.acc.get("filestats.files_opened", 0) / live if live
            else 0)
        out["construct.s"] = sum(
            s["pre_job_s"] for s in tr.spans
            if s["name"].startswith("pipeline.")
            and s["name"] != "pipeline.sink") / rounds
        return out


def split_labels(corpus_dir: str) -> dict[int, str]:
    """Every split label recomputed in DuckDB from the hash-threshold rule:
    md5('split' || doc_id), first 32 bits, against cumulative weight
    thresholds."""
    acc, cases = 0.0, []
    for name, w in SPLIT.items():
        acc += w
        cases.append(f"WHEN h < {int(acc * 2**32)} THEN '{name}'")
    sql = (f"SELECT doc_id, CASE {' '.join(cases)} ELSE "
           f"'{list(SPLIT)[-1]}' END FROM (SELECT doc_id, "
           "('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8))"
           f"::BIGINT AS h FROM read_parquet('{corpus_dir}/*.parquet'))")
    return dict(duckdb.sql(sql).fetchall())
